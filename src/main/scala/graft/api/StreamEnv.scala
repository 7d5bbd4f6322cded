package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.{Aggregates, Stateless}
import graft.streaming.StreamOps

/** Fluent façade reproducing the reference's builder ergonomics
  * (reference: StreamExecutionEnvironment + DataStream/KeyedStream/
  * WindowedStream, jobmanager/job_graph.py:265-501) over DataFrames.
  *
  * The reference builds a JobGraph IR from these calls and ships it to its
  * own scheduler; here every call declares a Catalyst plan node, and
  * submit/schedule/deploy collapse into `writeStream.start()` (SURVEY §3.1).
  * The same pipeline works in batch (a `DataFrame` read) and streaming
  * (`readStream`) because all transforms are plan-level.
  */
final case class StreamEnv(spark: SparkSession) {

  /** CollectionSourceOperator (reference: sources.py:201-261) — batch. */
  def fromCollection[T: Encoder](data: Seq[T]): GraftStream =
    GraftStream(spark.createDataset(data).toDF())

  /** KafkaSourceOperator (reference: sources.py:25-198). Offset tracking,
    * exactly-once and recovery are native (checkpointLocation) — the ~175
    * lines of manual offset/seek logic in the reference are config here.
    */
  def fromKafka(bootstrapServers: String, topic: String,
                startingOffsets: String = "earliest"): GraftStream =
    GraftStream(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load())

  /** File-watch streaming source (csv/json/parquet directory). */
  def fromFileStream(path: String, format: String, schema: StructType): GraftStream =
    GraftStream(spark.readStream.schema(schema).format(format).load(path))

  /** Synthetic rate source — the Spark-native analogue of the reference's
    * generator scripts (examples/data_generator_*.py).
    */
  def fromRate(rowsPerSecond: Long): GraftStream =
    GraftStream(spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load())

  def fromBatch(df: DataFrame): GraftStream = GraftStream(df)
}

/** DataStream (reference: job_graph.py:357-438). */
final case class GraftStream(df: DataFrame) {

  /** .map (reference: job_graph.py:372-377) — projection form. */
  def mapRecords(exprs: (String, Column)*): GraftStream =
    GraftStream(Stateless.mapRecords(df, exprs: _*))

  /** Add/replace a single column — map that keeps the rest of the row. */
  def withField(name: String, c: Column): GraftStream =
    GraftStream(df.withColumn(name, c))

  /** .filter (reference: job_graph.py:379-384). */
  def filterRecords(predicate: Column): GraftStream =
    GraftStream(df.where(predicate))

  /** .flat_map (reference: job_graph.py:386-391). */
  def flatMapRecords(arrayExpr: Column, outName: String): GraftStream =
    GraftStream(Stateless.flatMap(df, arrayExpr, outName))

  /** Event-time declaration + bounded out-of-orderness watermark
    * (reference: WatermarkStrategies.bounded_out_of_orderness,
    * common/watermarks.py:178-197).
    */
  def withEventTime(tsCol: String, maxOutOfOrderness: String = "5 seconds"): GraftStream =
    GraftStream(StreamOps.withBoundedOutOfOrderness(df, tsCol, maxOutOfOrderness))

  /** .key_by (reference: job_graph.py:393-399) → KeyedStream. */
  def keyBy(keys: Column*): KeyedGraftStream = KeyedGraftStream(df, keys)

  /** Multi-stream union — the capability the reference's join example
    * stubs out ("would support multiple sources",
    * examples/stream_join.py:77-79).
    */
  def union(other: GraftStream): GraftStream = GraftStream(df.union(other.df))

  /** REBALANCE edge (reference: EdgeType.REBALANCE, job_graph.py:11-17 —
    * round-robin redistribution; its fluent API never emits it, ours does).
    */
  def rebalance(partitions: Int): GraftStream = GraftStream(df.repartition(partitions))

  // ---- sinks (reference: taskmanager/operators/sinks.py) ----

  /** PrintSinkOperator (sinks.py:107-136). */
  def toConsole(outputMode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("console").start()

  /** CollectionSinkOperator (sinks.py:139-168) — streaming: memory sink.
    * Progress is tracked synchronously, so every batch's offsets commit
    * before the next batch starts.
    */
  def toMemorySink(name: String, outputMode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("memory").queryName(name).start()

  /** KafkaSinkOperator (sinks.py:19-104) — at-least-once into Kafka with
    * exactly-once state, vs the reference's flush-on-checkpoint
    * (honest divergence, SURVEY §7.4.5).
    */
  def toKafka(bootstrapServers: String, topic: String, checkpoint: String,
              outputMode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.outputMode(outputMode).format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Durable file sink with exactly-once semantics via checkpoint + WAL. */
  def toParquet(path: String, checkpoint: String,
                trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append()).format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Escape hatch for custom writer configuration. */
  def writeStream: DataStreamWriter[org.apache.spark.sql.Row] = df.writeStream
}

/** KeyedStream (reference: job_graph.py:441-457). */
final case class KeyedGraftStream(df: DataFrame, keys: Seq[Column]) {

  /** AggregateOperator surface (reference: stateful.py:265-342):
    * agg_func ∈ {sum,count,avg,min,max} over a value column. Streaming:
    * run in update mode for the reference's changelog emission.
    */
  def aggregate(aggFunc: String, valueCol: Column): GraftStream = {
    val v = Aggregates.dec(valueCol)
    val a = aggFunc match {
      case "count" => count(lit(1)).as("agg_value")
      case "sum"   => sum(v).cast("double").as("agg_value")
      case "min"   => min(v).cast("double").as("agg_value")
      case "max"   => max(v).cast("double").as("agg_value")
      case "avg"   => (sum(v).cast("double") / count(lit(1))).as("agg_value")
      case other   => throw new IllegalArgumentException(s"unknown agg: $other")
    }
    GraftStream(StreamOps.runningAgg(df, keys, Seq(a)))
  }

  /** Generic aggregation with caller-supplied aggregate columns. */
  def agg(aggs: Column*): GraftStream =
    GraftStream(df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))

  /** .window(TumblingWindow(size)) (reference: job_graph.py:460-501). */
  def window(ts: Column, size: String): WindowedGraftStream =
    WindowedGraftStream(df, keys, org.apache.spark.sql.functions.window(ts, size))

  /** .window(SlidingWindow(size, slide)). */
  def slidingWindow(ts: Column, size: String, slide: String): WindowedGraftStream =
    WindowedGraftStream(df, keys, org.apache.spark.sql.functions.window(ts, size, slide))

  /** Session window (documented surface, docs/api_reference.md:257-261). */
  def sessionWindow(ts: Column, gap: String): WindowedGraftStream =
    WindowedGraftStream(df, keys, session_window(ts, gap))

  /** Streaming dedup by id columns within the watermark. */
  def dedupWithinWatermark(idCols: String*): GraftStream =
    GraftStream(df.dropDuplicatesWithinWatermark(idCols))

}

/** WindowedStream (reference: job_graph.py:460-501). */
final case class WindowedGraftStream(df: DataFrame, keys: Seq[Column], win: Column) {

  /** WindowedStream.reduce → windowed aggregation fired per window
    * (reference: job_graph.py:476-481 + stateful.py:198-247). The
    * reference folds with an arbitrary binary closure; associative folds
    * are aggregate columns here (SURVEY §7.4.1 requires associativity).
    */
  def agg(aggs: Column*): GraftStream =
    GraftStream(df.groupBy(win +: keys: _*).agg(aggs.head, aggs.tail: _*))
}
