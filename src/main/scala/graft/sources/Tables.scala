package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.SwapStore

/** Batch file sources.
  *
  * Covers the reference's file-ingest surface (reference: gui/app_gcp.py:244-264
  * — csv.DictReader / json.loads over uploads) plus the parquet test tables.
  * Unlike the reference (≤2 MB, ≤500 records, driver-side parse), these are
  * distributed scans with predicate pushdown / column pruning handled by the
  * parquet data source, so they hold at 100 TB.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Older testdata generations wrote events.parquet with TIMESTAMP(NANOS);
  // Spark's parquet reader rejects that type unless
  // spark.sql.legacy.parquet.nanosAsLong=true. That conf is
  // session-construction state, not read-path state — GraftSession.local
  // sets it; externally-built sessions must too. It reaches the reader
  // through `sessionState.conf`: SwapStore.readParquet converts the
  // footer schema with a converter built from it, as inference does.
  // (Newer generations write timestamp[us]; [[events]] adapts per schema.)
  def table(name: String): DataFrame =
    SwapStore.readParquet(spark, s"$dir/$name.parquet")

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  /** Normalizes `ts` to µs TimestampType regardless of which testdata
    * generation wrote the file — the driver has regenerated events.parquet
    * with a different physical type mid-build before (epoch-ns int64 → naive
    * timestamp[us] on 2026-08-13), and every downstream operator assumes one
    * type. The session timezone is pinned to UTC (GraftSession), so casting
    * the naive TIMESTAMP_NTZ reads its wall clock as UTC — the same instants
    * the epoch-ns path produced, and the same convention DuckDB's
    * `epoch_ms`/`epoch_us` apply in the oracles.
    *  - Long: epoch nanoseconds (legacy nanosAsLong read). Integer `div`,
    *    not `/` — double division would corrupt int64 epoch-nanos
    *    (~1.7e18 > 2^53).
    *  - TIMESTAMP_NTZ: cast under the UTC session zone.
    *  - TIMESTAMP: already the target type.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — testdata generation changed again; " +
          "extend Tables.events with the new regime")
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view so the full engine surface is
    * reachable from `spark.sql(...)` — including the graft kernel
    * functions (simhash64, minhash_signature, cosine_similarity, …)
    * registered by GraftExtensions. The reference has no SQL layer at
    * all; on Spark it is free.
    */
  def registerAll(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { n =>
      table(n).createOrReplaceTempView(n)
    }
    events.createOrReplaceTempView("events")
  }
}

/** Bucketed tables: pre-shuffled storage so same-key joins and
  * aggregations run with NO exchange — the 100 TB answer to "this join
  * shuffles every run". Write once bucketed by the join key; every
  * subsequent join/groupBy on that key is narrow.
  */
object Bucketed {
  /** Write `df` as a bucketed managed table (sorted within buckets).
    * Drops any prior table AND its location first — an orphaned warehouse
    * directory (e.g. from an interrupted write) would otherwise block
    * creation with LOCATION_ALREADY_EXISTS.
    */
  def write(df: org.apache.spark.sql.DataFrame, table: String,
            bucketCol: String, buckets: Int): Unit =
    write(df, table, Seq(bucketCol), buckets)

  /** Multi-column form: buckets on the FULL key tuple (a join must then
    * use all of them to be exchange-free on this side).
    */
  def write(df: org.apache.spark.sql.DataFrame, table: String,
            bucketCols: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    if (warehouse.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(warehouse)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}

object FileSources {
  /** CSV ingest with header inference — the engine equivalent of the GUI
    * upload path (reference: gui/app_gcp.py:251-254). Schema may be supplied
    * to avoid the inference scan at scale.
    */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** JSON-lines ingest (reference: gui/app_gcp.py:256-259). */
  def json(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** ORC ingest — the other columnar lakehouse format (absent in the
    * reference; free on Spark with the same predicate-pushdown and
    * column-pruning properties as parquet).
    */
  def orc(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).orc(path)
  }
}
