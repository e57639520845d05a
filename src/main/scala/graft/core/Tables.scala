package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Typed access to the shared test tables plus the canonical tick view.
  *
  * The reference engine models a tick as `{timestamp, price, volume}`
  * keyed by symbol (/root/reference/timeseries_db.hpp:19-24), one data
  * directory per symbol (/root/reference/README.md:66-76). Here the same
  * logical stream is a declarative view over the `events` table
  * (symbol=event_type, price=value, volume=user_id), so every operator
  * downstream consumes a plain `(event_id, symbol, ts, price, volume)`
  * DataFrame and runs unchanged over any conforming source — batch
  * parquet, a [[graft.tsdb.TickStore]], or a stream.
  *
  * Schema contract: a bare `spark.read.parquet` launches one
  * schema-inference Spark job (~60–120 ms) per read, so every query
  * build would pay it once per table. [[read]] instead derives the
  * schema on the driver from the parquet footer and reads with
  * `spark.read.schema(s)`, so no job runs before the query's own
  * action:
  *  - the footer is read by [[LocalParquet.fileMetaData]], cached per
  *    (qualified path, length, modification time) — metadata only,
  *    one entry per path, replaced when the file changes;
  *  - it is converted on EVERY call with Spark's own
  *    `ParquetFileFormat.readSchemaFromFooter` and a
  *    `ParquetToSparkSchemaConverter` built from the calling session's
  *    conf, so the row-metadata key, TIMESTAMP_NTZ inference and the
  *    binary/INT96 flags behave exactly as the inference job does;
  *  - a directory root resolves from the footer Spark's non-merging
  *    inference would touch ([[LocalParquet.schemaFile]]); partition
  *    columns are still discovered from the paths;
  *  - a missing path, a directory with no parquet file, or a session
  *    with `spark.sql.parquet.mergeSchema` on reads through Spark's own
  *    inference (and fails the same way it always did).
  * [[graft.tsdb.TickStore]] owns its layout and reads with its declared
  * schema instead.
  *
  * Scale note: these are lazy scans — Catalyst pushes filters and prunes
  * columns into the parquet reader, so a 100 TB `events` table is only
  * read in the row groups / columns a query touches.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Parquet file or directory at `path`, read with its footer-derived
    * schema ([[schemaOf]]).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    // Every timestamp column in the regenerated testdata is
    // TIMESTAMP_NTZ; comparisons against session-zoned literals wrap
    // the COLUMN in a cast, which V1 parquet pushdown cannot
    // translate. The rewrite rule recovers row-group pruning for
    // every such filter, so install it on whatever session is in use
    // (idempotent; driver-created sessions have no extensions hook).
    graft.plans.GraftOptimizations.install(spark)
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The data schema Spark's inference would give `path`, derived on
    * the driver from one cached footer; None when inference has to run
    * (see the schema contract above).
    */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    LocalParquet.schemaFile(new Path(path), hadoopConf).map { f =>
      val meta = LocalParquet.fileMetaData(f, hadoopConf)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, new ParquetMetadata(meta, java.util.Collections.emptyList())),
        new ParquetToSparkSchemaConverter(conf))
    }
  }

  /** Canonical tick view: (event_id, symbol, ts, price, volume). */
  def ticks(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id"),
      col("event_type").as("symbol"),
      col("ts"),
      col("value").as("price"),
      col("user_id").as("volume"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
  /** `events.parquet` stores `ts` as parquet TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. Every
    * graft session pins `spark.sql.session.timeZone=UTC`, so the cast
    * to the session-zoned TIMESTAMP is the identity on the stored µs
    * value — the same instants DuckDB sees scanning the file as its
    * (naive) TIMESTAMP.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))

  /** Raw events with `ts` as the stored TIMESTAMP_NTZ column —
    * predicates on this column push down to parquet row-group stats
    * directly (the tz-cast view in [[events]] needs the
    * TimestampFilterPushdown rule to get there). Time-critical scans
    * filter here with TIMESTAMP_NTZ literals.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
}
