package graft.tsdb

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
/** @param dailyPartitions also partition by calendar day
  *   (`symbol=<s>/ts_date=<d>/`): at 100 TB this bounds per-directory
  *   file counts and turns time-range predicates into directory-level
  *   partition pruning on top of row-group pruning — the layout a real
  *   deployment uses. Off by default to mirror the reference's
  *   one-directory-per-symbol layout.
  * @param codec parquet compression codec for every write path.
  *   Default zstd: measured fastest ingest AND ~40% smaller files than
  *   snappy/lz4 on tick data (tools/IngestProbe, which passes this
  *   parameter to A/B codecs) — write cost is dominated by bytes
  *   hitting disk, so the better ratio wins both ways.
  */
final class TickStore(spark: SparkSession, path: String,
    dailyPartitions: Boolean = false, codec: String = "zstd") {
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
        .write.mode(SaveMode.Append).option("compression", codec)
        .partitionBy("symbol", "ts_date").parquet(path)
    else
      normalized
        .repartition(col("symbol"))
        .sortWithinPartitions("ts")
        .write.mode(SaveMode.Append).option("compression", codec)
        .partitionBy("symbol").parquet(path)
  }

  /** Re-bind `df` to the store's µs-writing session
    * ([[TickStore.microsSession]]) so its parquet writes emit
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
      TickStore.microsSession(spark), df.queryExecution.analyzed)

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

  /** Reads with the schema this store owns ([[TickStore.schema]]), never
    * an inferred one: inference would type an all-digit `symbol=0700`
    * partition as int (reading back `700`, and [[compact]] would then
    * write `symbol=700/`), costs a Spark job per read, and throws on an
    * empty store directory.
    */
  private def raw(): DataFrame =
    spark.read.schema(TickStore.schema(dailyPartitions)).parquet(path)

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
    val base = raw().filter(col("symbol") === symbol &&
      col("ts") >= lit(start) && col("ts") <= lit(end))
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
    all().filter(col("symbol") === symbol).orderBy(col("ts").desc).limit(n)

  /** r13 serve-cold fast path: (tick count, newest ts) for a symbol
    * read DRIVER-SIDE from parquet footers — no Spark job at all. Row
    * counts live in every footer; the ts maximum comes from the
    * column's row-group max statistics, which exist because [[ingest]]
    * writes INT64 TIMESTAMP(MICROS) (INT96 files carry none). This is
    * the "per-symbol stats sidecar maintained by ingest/compact/
    * expire" with zero staleness by construction: the parquet footers
    * ARE the sidecar, rewritten atomically with the data by the same
    * commit that lands it — a fresh listing per call sees exactly the
    * committed files (the ConcurrentServeSpec contract). Cost is
    * O(files) driver metadata reads — bounded by [[compact]], and one
    * bulk LIST + footer GETs on an object store.
    *
    * Returns None when any data file lacks usable ts statistics (a
    * store written by pre-r13 INT96 builds) — callers fall back to the
    * [[symbolStats]] aggregation scan, so mixed-era stores stay
    * correct.
    */
  def symbolStatsFast(symbol: String): Option[(Long, Option[java.sql.Timestamp])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path, s"symbol=$symbol")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Some((0L, None))
    val files =
      (if (dailyPartitions)
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "ts_date=*/*")))
          .map(_.toSeq).getOrElse(Seq.empty)
      else fs.listStatus(dir).toSeq).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    var total = 0L
    var maxUs = Long.MinValue
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        reader.getFooter.getBlocks.forEach { b =>
          if (b.getRowCount > 0) {
            total += b.getRowCount
            val ts = b.getColumns.asScala.find(
              _.getPath.toDotString == "ts")
            val stats = ts.map(_.getStatistics).orNull
            // hasNonNullValue guards the all-null-ts row group (r13
            // ADVICE): its LongStatistics are non-empty (numNulls set)
            // but min/max are UNINITIALIZED — getMax would silently
            // anchor maxTs at epoch 0. Same fallback as INT96.
            if (stats == null || stats.isEmpty ||
                !stats.isInstanceOf[org.apache.parquet.column.statistics.LongStatistics] ||
                !stats.hasNonNullValue())
              return None // INT96-era file or null-only group: no usable ts stats
            maxUs = math.max(maxUs,
              stats.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics].getMax)
          }
        }
      } finally reader.close()
    }
    if (total == 0L) Some((0L, None))
    else Some((total, Some({
      val t = new java.sql.Timestamp(Math.floorDiv(maxUs, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(maxUs, 1000000L) * 1000L).toInt)
      t
    })))
  }

  /** r13 serve-cold fast path, part 2: the window ticks themselves
    * read DRIVER-SIDE from the symbol's parquet files — no Spark job.
    * This is the serving layer's analog of the reference's mmap'd
    * per-symbol column files (/root/reference/column_storage.hpp): the
    * files ARE a columnar store, so a warm-up read of one symbol's
    * recent window is a direct columnar read plus a row-group skip on
    * the ts min/max statistics (the B+-tree descent analog, executed
    * in-process). A Spark job pays ~250 ms of scheduling +
    * row-serialization for the same bytes; this path reads them in
    * tens of ms. Scale posture unchanged: this reads ONE symbol's
    * window (the serve cache's bounded unit) — corpus-wide scans stay
    * on the cluster.
    *
    * Returns (epoch-micros, price, volume) arrays, UNSORTED across
    * files/row-groups (the caller sorts; within a row group rows are
    * already ts-sorted by ingest). None when any file lacks INT64 ts
    * (a pre-r13 INT96 store) — callers fall back to the Spark scan.
    * Rows with a null ts are skipped; null price/volume read as 0
    * (degenerate for tick data; the Cli's Spark fallback coalesces
    * nulls to 0 the same way — r13 ADVICE — while the raw
    * [[scanRange]] DataFrame surface keeps SQL NULL semantics).
    */
  def scanRangeLocal(symbol: String, startUs: Long, endUs: Long)
      : Option[(Array[Long], Array[Double], Array[Long])] = {
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path, s"symbol=$symbol")
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Some((Array.empty, Array.empty, Array.empty))
    val files =
      (if (dailyPartitions)
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "ts_date=*/*")))
          .map(_.toSeq).getOrElse(Seq.empty)
      else fs.listStatus(dir).toSeq).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
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
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try {
        val footer = reader.getFooter
        val schema = footer.getFileMetaData.getSchema
        val createdBy = footer.getFileMetaData.getCreatedBy
        def colDesc(name: String) = {
          val idx = schema.getFieldIndex(name)
          schema.getColumns.get(idx)
        }
        val tsIdx = schema.getFieldIndex("ts")
        if (schema.getType(tsIdx).asPrimitiveType().getPrimitiveTypeName
            != PrimitiveTypeName.INT64)
          return None // pre-r13 INT96 store: no stats, no local decode
        val blocks = footer.getBlocks.asScala
        var bi = 0
        while (bi < blocks.size) {
          val b = blocks(bi)
          // row-group skip on ts min/max (the B+-tree descent analog);
          // a group with missing stats is read, not skipped — correct
          // either way, stats only prune
          val st = b.getColumns.asScala.find(_.getPath.toDotString == "ts")
            .map(_.getStatistics).orNull
          val overlaps = st match {
            case s: org.apache.parquet.column.statistics.LongStatistics
                if !s.isEmpty => s.getMax >= startUs && s.getMin <= endUs
            case _ => true
          }
          val pages = reader.readNextRowGroup() // sequential: always consume
          if (overlaps && b.getRowCount > 0) {
            val store = new ColumnReadStoreImpl(pages, NoopGroup, schema, createdBy)
            val tsR = store.getColumnReader(colDesc("ts"))
            val prR = store.getColumnReader(colDesc("price"))
            val voR = store.getColumnReader(colDesc("volume"))
            val tsDl = colDesc("ts").getMaxDefinitionLevel
            val prDl = colDesc("price").getMaxDefinitionLevel
            val voDl = colDesc("volume").getMaxDefinitionLevel
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
      } finally reader.close()
    }
    Some((tsB.result(), prB.result(), voB.result()))
  }

  /** One pruned scan returning (tick count, newest ts) for a symbol —
    * the serve cache's warm-time anchor (fusing the count and the
    * tail read halves the cold-path job count); the fallback behind
    * [[symbolStatsFast]].
    */
  def symbolStats(symbol: String): (Long, Option[java.sql.Timestamp]) = {
    // functions.count spelled out: TickStore.count(symbol) shadows it
    val r = all().filter(col("symbol") === symbol)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        max(col("ts")).as("mx")).head()
    (r.getLong(0), Option(r.getTimestamp(1)))
  }

  /** Tick count — reference `get_count`
    * (/root/reference/timeseries_db.hpp:44). Metadata-only at the parquet
    * level (row-group counts), no column IO.
    */
  def count(symbol: String): Long =
    all().filter(col("symbol") === symbol).count()

  def countAll(): Long = all().count()

  /** Retention: drop every `ts_date` partition strictly older than
    * `cutoff` (daily layout only — the layout a production deployment
    * uses). Pure partition-directory removal: no data is read or
    * rewritten, readers LISTING concurrently never see a torn file
    * (directory deletes remove whole committed files) — though a query
    * whose file listing was planned BEFORE the delete can still hit
    * FileNotFoundException when it executes, the standard caveat of
    * any partition-drop on an immutable-file store. At 100 TB the cost
    * is O(expired partitions), not O(data): one glob listing round
    * (glob `symbol=&#42;/ts_date=&#42;` — a bulk prefix list on an
    * object store, not one RPC per symbol directory) and the
    * expired-directory
    * deletes issued from a small thread pool, both independent of tick
    * count. Unparseable partition names (a null-ts
    * `__HIVE_DEFAULT_PARTITION__`, foreign directories) are skipped,
    * never fatal mid-delete. Returns the number of dropped
    * (symbol, day) partitions. The reference is append-only with no
    * retention story; a long-lived store needs one.
    */
  def expire(cutoff: java.time.LocalDate, parallelism: Int = 16): Int = {
    require(dailyPartitions, "expire requires the daily-partition layout")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0
    val dayDirs = fs.globStatus(
      new org.apache.hadoop.fs.Path(root, "symbol=*/ts_date=*"))
    if (dayDirs == null) return 0
    val expired = dayDirs.iterator.filter(_.isDirectory).flatMap { d =>
      val name = d.getPath.getName // ts_date=YYYY-MM-DD
      scala.util.Try(java.time.LocalDate.parse(name.substring(8))).toOption
        .filter(_.isBefore(cutoff)).map(_ => d.getPath)
    }.toVector
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

  /** Small-file compaction — the maintenance pass every append-only
    * store needs (each [[ingest]]/[[append]] commit lands at least one
    * file per touched partition, so a high-frequency writer fragments
    * the store and scan/listing cost grows with FILE count, not data).
    * Rewrites every partition holding more than `maxFiles` data files
    * into ONE ts-sorted file via Spark's DYNAMIC partition overwrite:
    * only fragmented partitions are replaced (untouched partitions'
    * files are not rewritten, listed, or read), each swap goes through
    * the commit protocol, and the rewrite re-sorts by ts so row-group
    * pruning stays tight after heavy out-of-order appends.
    *
    * At 100 TB: the fragmented-partition discovery is ONE glob listing
    * (bulk prefix list on an object store, the expire pattern); the
    * rewrite reads and writes only the fragmented partitions'
    * bytes — cost O(fragmented data), independent of store size. The
    * partition filter is a disjunction of per-symbol conjunctions, so
    * directory-level pruning applies to the read side too. Same
    * concurrent-reader caveat as [[expire]]: a query planned before
    * the swap can hit a vanished file — the standard caveat of any
    * rewrite on an immutable-file store.
    *
    * Returns the number of partitions compacted.
    */
  /** NEW r12b: storage statistics — per-partition (data-file count,
    * bytes) from ONE glob listing: the fragmentation report `compact`
    * acts on, surfaced as an operational command. Driver-side
    * O(partitions) metadata only; no data file is ever opened.
    */
  def stats(): Seq[(String, Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Seq.empty
    val pattern = if (dailyPartitions) "symbol=*/ts_date=*" else "symbol=*"
    val dirs = fs.globStatus(new org.apache.hadoop.fs.Path(root, pattern))
    if (dirs == null) return Seq.empty
    dirs.iterator.filter(_.isDirectory).map { d =>
      val files = fs.listStatus(d.getPath).filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      val rel =
        if (dailyPartitions)
          d.getPath.getParent.getName + "/" + d.getPath.getName
        else d.getPath.getName
      (rel, files.length, files.map(_.getLen).sum)
    }.toSeq.sortBy(_._1)
  }

  def compact(maxFiles: Int = 1): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0
    val pattern = if (dailyPartitions) "symbol=*/ts_date=*" else "symbol=*"
    val dirs = fs.globStatus(new org.apache.hadoop.fs.Path(root, pattern))
    if (dirs == null) return 0
    def dataFiles(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val fragged = dirs.iterator.filter(_.isDirectory)
      .map(_.getPath).filter(dataFiles(_) > maxFiles).toVector
    if (fragged.isEmpty) return 0
    // partition filter: per-symbol conjunctions OR'd — stays in the
    // partition-pruning subset of Catalyst filters on both axes
    val filter: org.apache.spark.sql.Column =
      if (dailyPartitions)
        fragged.groupBy(_.getParent.getName.stripPrefix("symbol="))
          .map { case (sym, ps) =>
            col("symbol") === sym &&
              col("ts_date").isin(ps.map(p => java.sql.Date.valueOf(
                p.getName.stripPrefix("ts_date="))): _*)
          }.reduce(_ || _)
      else
        col("symbol").isin(
          fragged.map(_.getName.stripPrefix("symbol=")): _*)
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
      .option("compression", codec)
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
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path, s"symbol=$symbol")
    val fs = dir.getFileSystem(conf)
    fs.exists(dir) && fs.delete(dir, true)
  }
}

object TickStore {
  val cols: Seq[String] = Seq("symbol", "ts", "price", "volume")

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

  /** One µs-writing session per base session (shared SparkContext,
    * isolated SQLConf): `spark.sql.parquet.outputTimestampType =
    * TIMESTAMP_MICROS` without mutating the caller's session conf —
    * a runtime `conf.set`/restore around the write would race
    * concurrent planning on the shared session (parallel suites, the
    * ConcurrentServeSpec writer thread). Session-critical confs are
    * copied from the parent's RUNTIME values (newSession inherits only
    * builder-level configs).
    */
  private val writeSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  private[tsdb] def microsSession(spark: SparkSession): SparkSession =
    writeSessions.computeIfAbsent(spark, s => {
      val w = s.newSession()
      Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions",
        "spark.sql.ansi.enabled").foreach(k =>
        w.conf.set(k, s.conf.get(k)))
      w.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      w
    })
}
