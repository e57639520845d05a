package graft.tsdb

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.LocalParquet

/** Spark-native equivalent of the reference `TimeSeriesDB`
  * (/root/reference/timeseries_db.hpp:26-104).
  *
  * Design mapping (reference → Spark):
  *  - per-symbol column files (`tsdb_data/<SYM>/{timestamps,prices,
  *    volumes}.bin`, /root/reference/column_storage.hpp + README.md:66-76)
  *    → parquet `partitionBy("symbol")`: columnar by construction, and
  *    partition pruning gives the same "open only this symbol's files"
  *    behavior on a cluster of any size.
  *  - in-memory B+ tree `timestamp → offset` index
  *    (/root/reference/bplus_tree.hpp) → files sorted by `ts` within each
  *    symbol partition + parquet row-group min/max statistics: a ts-range
  *    predicate prunes row groups, the distributed analog of a B+ tree
  *    range descent. No driver-side index needs to fit in memory.
  *    r13: writes emit INT64 TIMESTAMP(MICROS), not Spark's default
  *    INT96 — INT96 columns carry NO statistics (the format deprecated
  *    them), which would make this whole bullet silently false; micros
  *    also shave 4 bytes/tick and power [[symbolStatsFast]] /
  *    [[scanRangeLocal]], the serve layer's job-free metadata and
  *    columnar reads.
  *  - `append` / `append_batch` (/root/reference/timeseries_db.hpp:32-35)
  *    → append-mode writes; the store stays append-only exactly like the
  *    reference's design.
  *  - `query_range` / `query_last` / `get_count`
  *    (/root/reference/timeseries_db.hpp:38-59) → pushed-filter scans; no
  *    shuffle on any read path (scan + local sort/limit only).
  *  - CSV import (/root/reference/cli.cpp:140-207) → [[importCsv]] with an
  *    explicit `timestamp,price,volume` schema; malformed lines are
  *    dropped (PERMISSIVE + null filter) like the reference's per-line
  *    warnings.
  *
  * At 100 TB: ingest shuffles once on `symbol` so each partition's files
  * are written by one task and stay time-sorted; reads never shuffle.
  * Many-symbol skew is bounded because market symbols are numerous and
  * AQE rebalances the ingest shuffle.
  */
/** @param dailyPartitions also partition each symbol's directory by
  *   calendar day (the directory names are [[layout]]'s): at 100 TB
  *   this bounds per-directory file counts and turns time-range
  *   predicates into directory-level partition pruning on top of
  *   row-group pruning — the layout a real deployment uses. Off by
  *   default to mirror the reference's one-directory-per-symbol layout.
  */
final class TickStore(spark: SparkSession, path: String,
    dailyPartitions: Boolean = false) {
  import TickStore._

  /** Append a batch of ticks — reference `append_batch`
    * (/root/reference/timeseries_db.hpp:35). Input must have columns
    * (symbol, ts, price, volume); extra columns are dropped.
    */
  def ingest(ticks: DataFrame): Unit = {
    val missing = cols.filterNot(ticks.columns.contains)
    require(missing.isEmpty,
      s"ingest requires columns ${cols.mkString(", ")}; missing: ${missing.mkString(", ")}")
    val normalized = microsWrite(ticks.select(col("symbol").cast(StringType),
      col("ts").cast(TimestampType),
      col("price").cast(DoubleType),
      col("volume").cast(LongType)))
    if (dailyPartitions)
      normalized.withColumn("ts_date", to_date(col("ts")))
        .repartition(col("symbol"), col("ts_date"))
        .sortWithinPartitions("ts")
        .write.mode(SaveMode.Append).option("compression", Codec)
        .partitionBy("symbol", "ts_date").parquet(path)
    else
      normalized
        .repartition(col("symbol"))
        .sortWithinPartitions("ts")
        .write.mode(SaveMode.Append).option("compression", Codec)
        .partitionBy("symbol").parquet(path)
  }

  /** Re-bind `df` to the µs-writing session derived from the store's
    * ([[graft.core.LocalSession.derived]]) so its parquet writes emit
    * INT64 TIMESTAMP(MICROS) instead of Spark's default INT96.
    * INT96 columns carry NO row-group min/max statistics (the format
    * deprecated them), which silently voids both the ts row-group
    * pruning this store's design mapping claims (the B+-tree analog)
    * AND the serve cold path's footer-derived [[symbolStatsFast]];
    * INT64 micros restores both and is 4 bytes/tick smaller. The plan
    * is taken ANALYZED (resolved — re-analysis in the write session is
    * a no-op, so caller-session-registered functions keep working).
    */
  private def microsWrite(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.ofRows(
      graft.core.LocalSession.derived(spark, MicrosTimestamps), df.queryExecution.analyzed)

  /** Single-tick append — reference `append`
    * (/root/reference/timeseries_db.hpp:32). Provided for API parity; on
    * Spark, batch ingest is the intended write path.
    */
  def append(symbol: String, ts: java.sql.Timestamp, price: Double, volume: Long): Unit = {
    import spark.implicits._
    ingest(Seq((symbol, ts, price, volume)).toDF("symbol", "ts", "price", "volume"))
  }

  /** CSV import — reference `import` command (/root/reference/cli.cpp:140).
    * Expected columns: epoch-second timestamp, price, volume.
    */
  def importCsv(csvPath: String, symbol: String, header: Boolean = true): Unit = {
    val raw = spark.read
      .schema(StructType(Seq(
        StructField("timestamp", LongType),
        StructField("price", DoubleType),
        StructField("volume", LongType))))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(csvPath)
      .filter(col("timestamp").isNotNull && col("price").isNotNull && col("volume").isNotNull)
    ingest(raw.select(
      lit(symbol).as("symbol"),
      timestamp_seconds(col("timestamp")).as("ts"),
      col("price"), col("volume")))
  }

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The store's one layout function: the only code that maps a
    * symbol (and, on the daily layout, a day) to its partition
    * directory, or a directory back to them. A symbol's directory is
    * `symbol=<s>` under the root, and the daily layout adds
    * `ts_date=<yyyy-mm-dd>` below it. Values go through Spark's own
    * partition-path escaping, so each name here is the one
    * [[ingest]]'s writer produced: `EUR/USD` lives in
    * `symbol=EUR%2FUSD`, and a hand-built `symbol=EUR/USD` would name
    * a directory that does not exist.
    */
  private object layout {
    val root = new Path(path)
    def fs: FileSystem = root.getFileSystem(conf)

    def symbolDir(symbol: String): Path =
      new Path(root, "symbol=" + ExternalCatalogUtils.escapePathName(symbol))

    /** `symbol`'s partition directories: its own directory on the flat
      * layout (no listing), else every day directory from one listing
      * of it, a null-ts day included; empty when the symbol has none.
      */
    def symbolPartitions(symbol: String): Seq[Path] =
      if (!dailyPartitions) Seq(symbolDir(symbol))
      else
        try fs.listStatus(symbolDir(symbol)).toSeq.filter(_.isDirectory).map(_.getPath)
          .filter(_.getName.startsWith("ts_date="))
        catch { case _: java.io.FileNotFoundException => Seq.empty }

    /** Every partition of the store from one glob listing (a bulk
      * prefix list on an object store, not one call per symbol).
      * Unparseable names (a null-ts `__HIVE_DEFAULT_PARTITION__` day,
      * foreign directories) are skipped.
      */
    def partitions(): Seq[Partition] = {
      val pattern = if (dailyPartitions) "symbol=*/ts_date=*" else "symbol=*"
      Option(fs.globStatus(new Path(root, pattern))).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath).flatMap { d =>
          if (!dailyPartitions) Some(Partition(d, symbol(d), None))
          else day(d).map(x => Partition(d, symbol(d.getParent), Some(x)))
        }
    }

    private def symbol(dir: Path): String =
      ExternalCatalogUtils.unescapePathName(dir.getName.stripPrefix("symbol="))

    private def day(dir: Path): Option[java.time.LocalDate] =
      if (!dir.getName.startsWith("ts_date=")) None
      else scala.util.Try(java.time.LocalDate.parse(ExternalCatalogUtils.unescapePathName(
        dir.getName.stripPrefix("ts_date=")))).toOption
  }

  /** Reads with the schema this store owns ([[TickStore.schema]]), never
    * an inferred one: inference would type an all-digit `0700` symbol
    * partition as int (reading back `700`, and [[compact]] would then
    * write it back as `700`), costs a Spark job per read, and throws on
    * an empty store directory.
    */
  private def reader = spark.read.schema(TickStore.schema(dailyPartitions))

  /** The whole store, every symbol directory listed. */
  private def raw(): DataFrame = reader.parquet(path)

  /** One symbol's rows: Spark lists only the symbol's directory, and
    * `basePath` at the store root still yields its partition columns.
    * A whole-store read lists every symbol directory, and above 32 of
    * them Spark's parallel partition discovery adds a listing job to
    * every per-symbol read. A symbol with no directory reads as the
    * empty frame.
    */
  private def symbolRows(symbol: String): DataFrame = {
    val dir = layout.symbolDir(symbol)
    if (layout.fs.exists(dir))
      reader.option("basePath", path).parquet(dir.toString)
    else reader.parquet()
  }

  /** Full store scan (lazy). Partition column is re-ordered first. */
  def all(): DataFrame = raw().select(cols.map(col): _*)

  /** Inclusive time-range query — reference `query_range`
    * (/root/reference/timeseries_db.hpp:38). Symbol (and, for daily
    * layouts, date-directory) partition pruning + ts row-group pruning;
    * result ordered by ts.
    */
  def queryRange(symbol: String, start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame =
    scanRange(symbol, start, end).orderBy("ts")

  /** [[queryRange]] without the final sort — the serve cache collects
    * this and sorts driver-side (r13): the global `orderBy` costs a
    * range-partitioning SAMPLING pass plus a sort stage, which doubled
    * the cold warm-up's job count for rows a driver array sorts in
    * milliseconds.
    */
  def scanRange(symbol: String, start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame = {
    val base = symbolRows(symbol).filter(col("ts") >= lit(start) && col("ts") <= lit(end))
    val pruned =
      if (dailyPartitions)
        base.filter(col("ts_date").between(
          to_date(lit(start)), to_date(lit(end))))
      else base
    pruned.select(cols.map(col): _*)
  }

  /** Last N ticks — reference `query_last`
    * (/root/reference/timeseries_db.hpp:41). Planned as
    * TakeOrderedAndProject: each partition keeps only its top-N, no full
    * sort even on a 100 TB store.
    */
  def queryLast(symbol: String, n: Int): DataFrame =
    symbolRows(symbol).select(cols.map(col): _*).orderBy(col("ts").desc).limit(n)

  /** The driver-side read of one symbol: its files listed once (one
    * `listStatus` on the flat layout), each opened once
    * ([[graft.core.LocalParquet.open]]), all closed when `f` returns.
    * The serve loop's cold load takes the footer stats and then the
    * window's row groups from the same readers; [[symbolStatsFast]] and
    * [[scanRangeLocal]] each take one of them. A fresh listing per call
    * sees exactly the committed files (the ConcurrentServeSpec
    * contract).
    */
  private[graft] def readLocal[T](symbol: String)(f: LocalSymbol => T): T = {
    val readers = scala.collection.mutable.ArrayBuffer.empty[ParquetFileReader]
    try {
      layout.symbolPartitions(symbol).flatMap(LocalParquet.dataFiles(_, conf))
        .foreach(st => readers += LocalParquet.open(st, conf))
      f(new LocalSymbol(readers.toSeq))
    } finally readers.foreach(_.close())
  }

  /** r13 serve-cold fast path: (tick count, newest ts) for a symbol
    * read DRIVER-SIDE from parquet footers — no Spark job at all
    * ([[LocalSymbol.stats]]). Returns None when any data file lacks
    * usable ts statistics (a store written by pre-r13 INT96 builds) —
    * callers fall back to the [[symbolStats]] aggregation scan, so
    * mixed-era stores stay correct.
    */
  def symbolStatsFast(symbol: String): Option[(Long, Option[java.sql.Timestamp])] =
    readLocal(symbol)(_.stats).map { case (n, maxUs) =>
      (n, maxUs.map { us =>
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      })
    }

  /** r13 serve-cold fast path, part 2: the ticks with
    * `startUs <= ts <= endUs` read DRIVER-SIDE from the symbol's parquet
    * files — no Spark job ([[LocalSymbol.scan]]). None when any file
    * lacks INT64 ts (a pre-r13 INT96 store) — callers fall back to the
    * Spark scan.
    */
  def scanRangeLocal(symbol: String, startUs: Long, endUs: Long)
      : Option[(Array[Long], Array[Double], Array[Long])] =
    readLocal(symbol)(_.scan(startUs, endUs))

  /** One pruned scan returning (tick count, newest ts) for a symbol —
    * the serve cache's warm-time anchor (fusing the count and the
    * tail read halves the cold-path job count); the fallback behind
    * [[symbolStatsFast]].
    */
  def symbolStats(symbol: String): (Long, Option[java.sql.Timestamp]) = {
    // functions.count spelled out: TickStore.count(symbol) shadows it
    val r = symbolRows(symbol)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        max(col("ts")).as("mx")).head()
    (r.getLong(0), Option(r.getTimestamp(1)))
  }

  /** Tick count — reference `get_count`
    * (/root/reference/timeseries_db.hpp:44). Metadata-only at the parquet
    * level (row-group counts), no column IO.
    */
  def count(symbol: String): Long = symbolRows(symbol).count()

  def countAll(): Long = all().count()

  /** Retention: drop every day partition strictly older than `cutoff`
    * (daily layout only — the layout a production deployment uses).
    * Pure partition-directory removal: no data is read or rewritten,
    * readers LISTING concurrently never see a torn file (directory
    * deletes remove whole committed files) — though a query whose file
    * listing was planned BEFORE the delete can still hit
    * FileNotFoundException when it executes, the standard caveat of
    * any partition-drop on an immutable-file store. At 100 TB the cost
    * is O(expired partitions), not O(data): one glob listing round
    * ([[layout]]`.partitions`, no per-partition file listing) and the
    * expired-directory deletes issued from a small thread pool, both
    * independent of tick count. Unparseable partition names are
    * skipped, never fatal mid-delete. Returns the number of dropped
    * (symbol, day) partitions. The reference is append-only with no
    * retention story; a long-lived store needs one.
    */
  def expire(cutoff: java.time.LocalDate, parallelism: Int = 16): Int = {
    require(dailyPartitions, "expire requires the daily-partition layout")
    val fs = layout.fs
    val expired = layout.partitions().filter(_.day.exists(_.isBefore(cutoff))).map(_.dir)
    if (expired.isEmpty) 0
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, expired.size)))
      try {
        // Each delete's outcome is captured in a Try: one transient FS
        // failure must not abort the sweep mid-foreach and lose the
        // dropped count (r12 ADVICE) — successes are counted, failures
        // aggregated and reported once, never fatal.
        val results = expired.map { p =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = fs.delete(p, true)
          })
        }.map(f => scala.util.Try(f.get()))
        val dropped = results.count(_ == scala.util.Success(true))
        val failures = results.collect { case scala.util.Failure(e) => e }
        if (failures.nonEmpty)
          System.err.println(s"[graft] expire: ${failures.size}/" +
            s"${expired.size} partition deletes failed (first: " +
            s"${failures.head.getMessage}); $dropped dropped this sweep")
        dropped
      } finally {
        pool.shutdown()
        pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
  }

  /** NEW r12b: storage statistics — per-partition (relative directory,
    * data-file count, bytes) from ONE glob listing plus one listing per
    * partition: the fragmentation report `compact` acts on, surfaced as
    * an operational command. Driver-side O(partitions) metadata only;
    * no data file is ever opened.
    */
  def stats(): Seq[(String, Int, Long)] = {
    layout.partitions().map { p =>
      val files = LocalParquet.dataFiles(p.dir, conf)
      val rel =
        if (dailyPartitions) p.dir.getParent.getName + "/" + p.dir.getName
        else p.dir.getName
      (rel, files.size, files.map(_.getLen).sum)
    }.sortBy(_._1)
  }

  /** Small-file compaction — the maintenance pass every append-only
    * store needs (each [[ingest]]/[[append]] commit lands at least one
    * file per touched partition, so a high-frequency writer fragments
    * the store and scan/listing cost grows with FILE count, not data).
    * Rewrites every partition holding more than `maxFiles` data files
    * into ONE ts-sorted file via Spark's DYNAMIC partition overwrite:
    * only fragmented partitions are replaced (untouched partitions'
    * files are not rewritten or read), each swap goes through the
    * commit protocol, and the rewrite re-sorts by ts so row-group
    * pruning stays tight after heavy out-of-order appends.
    *
    * At 100 TB: the fragmented-partition discovery is ONE glob listing
    * (the expire pattern) plus one listing per partition; the rewrite
    * reads and writes only the fragmented partitions' bytes — cost
    * O(fragmented data), independent of store size. The partition
    * filter is a disjunction of per-symbol conjunctions over the
    * parsed (symbol, day) values, so directory-level pruning applies to
    * the read side too. Same concurrent-reader caveat as [[expire]]: a
    * query planned before the swap can hit a vanished file — the
    * standard caveat of any rewrite on an immutable-file store.
    *
    * Returns the number of partitions compacted.
    */
  def compact(maxFiles: Int = 1): Int = {
    val fragged = layout.partitions()
      .filter(p => LocalParquet.dataFiles(p.dir, conf).size > maxFiles)
    if (fragged.isEmpty) return 0
    // partition filter: per-symbol conjunctions OR'd — stays in the
    // partition-pruning subset of Catalyst filters on both axes
    val filter: org.apache.spark.sql.Column =
      if (dailyPartitions)
        fragged.groupBy(_.symbol).map { case (sym, ps) =>
          col("symbol") === sym &&
            col("ts_date").isin(ps.flatMap(_.day).map(java.sql.Date.valueOf): _*)
        }.reduce(_ || _)
      else col("symbol").isin(fragged.map(_.symbol): _*)
    val parts: Seq[String] =
      if (dailyPartitions) Seq("symbol", "ts_date") else Seq("symbol")
    // localCheckpoint materializes ONLY the fragmented partitions'
    // rows (bounded by the fragmented data, not store size) and breaks
    // lineage so the overwrite cannot lazily re-read the files it is
    // replacing
    val data = microsWrite(raw().filter(filter).localCheckpoint())
    data
      .repartition(parts.map(col): _*)
      .sortWithinPartitions("ts")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", Codec)
      .partitionBy(parts: _*).parquet(path)
    fragged.size
  }

  /** Symbol-level retention for EITHER layout: drop a delisted
    * symbol's entire partition subtree (the non-daily layout has no
    * time axis in its directory structure, so time-based expiry there
    * would be a rewrite — but whole-symbol removal is still a pure
    * O(1)-listing directory delete). Returns true iff the symbol
    * existed.
    */
  def dropSymbol(symbol: String): Boolean = {
    val dir = layout.symbolDir(symbol)
    layout.fs.delete(dir, true)
  }
}

object TickStore {
  val cols: Seq[String] = Seq("symbol", "ts", "price", "volume")

  /** Parquet compression of every write path. zstd measured the
    * fastest ingest AND ~40% smaller files than snappy/lz4 on tick data
    * (the codec A/B of the `tools/IngestProbe` main, last present at
    * commit 9a2bdb1): write cost is dominated by bytes hitting disk, so
    * the better ratio wins both ways.
    */
  private val Codec = "zstd"

  /** One partition directory and the (symbol, day) it holds; `day` is
    * None on the flat layout.
    */
  private final case class Partition(dir: Path, symbol: String,
      day: Option[java.time.LocalDate])

  /** The stored layout: data columns as [[TickStore.ingest]] writes
    * them, then the partition columns, which are typed from here rather
    * than inferred from directory names.
    */
  def schema(dailyPartitions: Boolean): StructType = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("price", DoubleType),
    StructField("volume", LongType),
    StructField("symbol", StringType)) ++
    (if (dailyPartitions) Seq(StructField("ts_date", DateType)) else Nil))

  /** The write conf of [[microsWrite]]'s session. */
  private val MicrosTimestamps =
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"

  /** One symbol's open parquet readers ([[TickStore.readLocal]]), read
    * in-process — the serving layer's analog of the reference's mmap'd
    * per-symbol column files (/root/reference/column_storage.hpp).
    */
  private[graft] final class LocalSymbol(readers: Seq[ParquetFileReader]) {
    import org.apache.parquet.column.statistics.LongStatistics

    private def tsStats(b: org.apache.parquet.hadoop.metadata.BlockMetaData) =
      b.getColumns.asScala.find(_.getPath.toDotString == "ts").map(_.getStatistics).orNull

    /** (tick count, newest ts in epoch µs) from the footers alone. Row
      * counts live in every footer; the ts maximum comes from the
      * column's row-group max statistics, which exist because
      * [[TickStore.ingest]] writes INT64 TIMESTAMP(MICROS) (INT96 files
      * carry none). The footers ARE the per-symbol stats sidecar,
      * rewritten atomically with the data by the same commit that lands
      * it, so they are never stale. Cost is O(files) footer reads,
      * bounded by [[TickStore.compact]].
      *
      * None when a non-empty row group has no usable ts statistics: an
      * INT96-era file, or a group whose ts values are all null — its
      * LongStatistics are non-empty (numNulls set) but min/max are
      * UNINITIALIZED, and `getMax` would silently anchor the newest ts
      * at epoch 0 (r13 ADVICE; the `hasNonNullValue` guard).
      */
    def stats: Option[(Long, Option[Long])] = {
      var total = 0L
      var maxUs = Long.MinValue
      readers.foreach(_.getRowGroups.forEach { b =>
        if (b.getRowCount > 0) {
          total += b.getRowCount
          tsStats(b) match {
            case s: LongStatistics if s.hasNonNullValue =>
              maxUs = math.max(maxUs, s.getMax)
            case _ => return None
          }
        }
      })
      Some((total, if (total == 0L) None else Some(maxUs)))
    }

    /** The ticks with `startUs <= ts <= endUs` as (epoch µs, price,
      * volume) arrays: a direct columnar read that reads only the row
      * groups whose ts min/max overlap the range (the B+-tree descent
      * analog, executed in-process). A Spark job pays ~250 ms of
      * scheduling + row serialization for the same bytes; this read
      * takes ~1–3 ms for a one-file symbol (open included, 4 cores).
      *
      * UNSORTED across files/row groups (the caller sorts; within a row
      * group rows are already ts-sorted by ingest). None when any file
      * lacks INT64 ts (a pre-r13 INT96 store). Rows with a null ts are
      * skipped; null price/volume read as 0 (degenerate for tick data;
      * the Cli's Spark fallback coalesces nulls to 0 the same way — r13
      * ADVICE — while the raw [[TickStore.scanRange]] DataFrame surface
      * keeps SQL NULL semantics).
      */
    def scan(startUs: Long, endUs: Long): Option[(Array[Long], Array[Double], Array[Long])] = {
      import org.apache.parquet.column.impl.ColumnReadStoreImpl
      import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
      val tsB = Array.newBuilder[Long]
      val prB = Array.newBuilder[Double]
      val voB = Array.newBuilder[Long]
      // no-op converter tree: we pull values straight off the column
      // readers, never through record assembly
      object NoopPrim extends PrimitiveConverter {
        override def addLong(v: Long): Unit = ()
        override def addDouble(v: Double): Unit = ()
        override def addBinary(v: Binary): Unit = ()
      }
      object NoopGroup extends GroupConverter {
        override def getConverter(i: Int): Converter = NoopPrim
        override def start(): Unit = ()
        override def end(): Unit = ()
      }
      readers.foreach { reader =>
        val meta = reader.getFooter.getFileMetaData
        val schema = meta.getSchema
        val tsCol = schema.getColumns.get(schema.getFieldIndex("ts"))
        val prCol = schema.getColumns.get(schema.getFieldIndex("price"))
        val voCol = schema.getColumns.get(schema.getFieldIndex("volume"))
        if (tsCol.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.INT64)
          return None // pre-r13 INT96 store: no stats, no local decode
        val blocks = reader.getRowGroups
        var bi = 0
        while (bi < blocks.size) {
          val b = blocks.get(bi)
          // a group with missing stats is read, not skipped — correct
          // either way, stats only prune
          val overlaps = tsStats(b) match {
            case s: LongStatistics if !s.isEmpty => s.getMax >= startUs && s.getMin <= endUs
            case _ => true
          }
          if (overlaps && b.getRowCount > 0) {
            val store = new ColumnReadStoreImpl(reader.readRowGroup(bi), NoopGroup,
              schema, meta.getCreatedBy)
            val tsR = store.getColumnReader(tsCol)
            val prR = store.getColumnReader(prCol)
            val voR = store.getColumnReader(voCol)
            val tsDl = tsCol.getMaxDefinitionLevel
            val prDl = prCol.getMaxDefinitionLevel
            val voDl = voCol.getMaxDefinitionLevel
            val n = b.getRowCount
            var i = 0L
            while (i < n) {
              val tsOk = tsR.getCurrentDefinitionLevel == tsDl
              val us = if (tsOk) tsR.getLong else 0L
              val pr = if (prR.getCurrentDefinitionLevel == prDl) prR.getDouble else 0.0
              val vo = if (voR.getCurrentDefinitionLevel == voDl) voR.getLong else 0L
              if (tsOk && us >= startUs && us <= endUs) {
                tsB += us; prB += pr; voB += vo
              }
              tsR.consume(); prR.consume(); voR.consume()
              i += 1
            }
          }
          bi += 1
        }
      }
      Some((tsB.result(), prB.result(), voB.result()))
    }
  }
}
