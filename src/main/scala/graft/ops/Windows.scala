package graft.ops

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.functions._

/** Event-time window operators.
  *
  * The reference's core query construct: TumblingWindow / SlidingWindow
  * assigners + a WindowOperator that buffers per (key, window) and fires on
  * watermark (reference: taskmanager/operators/stateful.py:42-85, 147-262).
  * SessionWindow is documented but unimplemented there
  * (docs/api_reference.md:257-261); we implement it for surface parity.
  *
  * On Spark the same assignment math is the built-in `window()` /
  * `session_window()` expressions, usable identically in batch and
  * Structured Streaming (streaming adds `withWatermark` for firing/eviction
  * — see graft.streaming). The assigner is a per-row expression (no state),
  * the aggregation is a partial+final HashAggregate: at 100 TB the shuffle
  * carries one row per (key, window), and sliding windows multiply input by
  * size/slide *before* partial aggregation — keep slide ratios modest.
  *
  * Late data: the reference re-fires an already-emitted window when late
  * records arrive (stateful.py:186-192 — duplicate emission, a documented
  * quirk); we adopt Spark watermark semantics (late rows beyond the
  * watermark are dropped) — see SURVEY §7.4.
  */
object EventTimeWindows {

  /** TumblingWindow(size) (reference: stateful.py:42-56 —
    * start = ts div size * size, window = [start, start+size)).
    */
  def tumbling(df: DataFrame, ts: Column, size: String, keys: Column*): RelationalGroupedDataset =
    df.groupBy(window(ts, size) +: keys: _*)

  /** SlidingWindow(size, slide) (reference: stateful.py:59-85 — every
    * window [s, s+size), s ≡ 0 (mod slide), containing ts).
    */
  def sliding(df: DataFrame, ts: Column, size: String, slide: String, keys: Column*): RelationalGroupedDataset =
    df.groupBy(window(ts, size, slide) +: keys: _*)

  /** SessionWindow(gap): documented-but-missing in the reference
    * (docs/api_reference.md:257-261). Sessions merge while consecutive
    * events are < gap apart; window = [first_ts, last_ts + gap).
    */
  def session(df: DataFrame, ts: Column, gap: String, keys: Column*): RelationalGroupedDataset =
    df.groupBy(session_window(ts, gap) +: keys: _*)

  /** Project the window struct to its epoch-millisecond start — the
    * reference emits fired windows stamped with window end/start as ms
    * longs (stateful.py:233-239); ms longs also make oracle comparison
    * engine-exact (no timestamp-precision ambiguity).
    */
  def winStartMs: Column = unix_millis(col("window.start")).as("win_start_ms")
  def winEndMs: Column   = unix_millis(col("window.end")).as("win_end_ms")

  /** Per-EVENT sessionization: assign every event its key's 1-based
    * session ordinal under a gap rule (a session breaks when the gap
    * to the previous event exceeds `gapMs`) plus its 1-based position
    * within that session. `session_window` aggregates PER SESSION;
    * this keeps the EVENT rows — the labeling step before
    * session-scoped features (position-in-session, entry/exit events,
    * session joins).
    *
    * Scale shape: one keyed exchange; lag + two running sums share
    * the single per-key sort. Gap convention: strictly greater than
    * `gapMs` breaks (a gap of exactly `gapMs` continues the session),
    * matching `session_window`'s half-open [start, last+gap) windows.
    * Output: keys…, `us` (event epoch-µs), `tie`, `session_idx`,
    * `event_idx`.
    */
  /** One micro-batch of the continuous [[sessionize]]: label `batch`'s
    * events against the per-key state table `cur` with schema
    * (keys…, last_us, n_sessions, n_in_last), and return
    * (labeled rows, new state). The stored last event acts as each
    * key's virtual predecessor: a first batch event within the gap
    * CONTINUES the stored session (same ordinal, positions carry on
    * from `n_in_last`); an unseen key starts at session 1. In-order
    * delivery required across batches (the [[graft.ops.Timeseries]]
    * cusum contract).
    */
  private[ops] def foldSessionize(cur: DataFrame, batch: DataFrame,
                                  keys: Seq[String], ts: Column, tie: Column,
                                  gapMs: Long): (DataFrame, DataFrame) = {
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("us"), col("tie"))
    val run = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val b = batch.select(keys.map(col) ++ Seq(unix_micros(ts).as("us"),
        tie.as("tie")): _*)
      .join(cur, keys, "left")
    val prevUs = coalesce(lag(col("us"), 1).over(ord), col("last_us"))
    val labeled = b
      .withColumn("__brk",
        when(prevUs.isNull, 1L)
          .when(col("us") - prevUs > gapMs * 1000L, 1L).otherwise(0L))
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("session_idx",
        coalesce(col("n_sessions"), lit(0L)) + sum(col("__brk")).over(run))
      // position: distance past the last break in THIS batch, plus the
      // stored run length when the first batch run continues the
      // stored session (no break at rn=1)
      .withColumn("__lastb",
        max(when(col("__brk") === 1L, col("__rn"))).over(run))
      .withColumn("event_idx",
        when(col("__lastb").isNull,
          col("__rn") + coalesce(col("n_in_last"), lit(0L)))
          .otherwise(col("__rn") - col("__lastb") + 1L))
      .localCheckpoint() // one compute serves the emit AND the state fold
    val out = labeled.select(keys.map(col) ++ Seq(col("us"), col("tie"),
      col("session_idx"), col("event_idx")): _*)
    val touched = labeled
      .withColumn("__last", max(struct(col("us"), col("tie"),
        col("session_idx"), col("event_idx"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
      .where(col("us") === col("__last.us") && col("tie") === col("__last.tie"))
      .select(keys.map(col) ++ Seq(col("us").as("last_us"),
        col("session_idx").as("n_sessions"),
        col("event_idx").as("n_in_last")): _*)
    val untouched = cur.join(
      batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
    (out, touched.unionByName(untouched))
  }

  /** Seed the persisted sessionization state store at `path` (pass an
    * empty frame to start cold) — state only; the labeled rows of the
    * seed batch are discarded (re-run [[sessionize]] if needed).
    */
  def initSessionStore(df: DataFrame, keys: Seq[String], ts: Column,
                       tie: Column, gapMs: Long, path: String): Unit = {
    val empty = df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        df.select(keys.map(col): _*).schema.fields ++
          Seq("last_us", "n_sessions", "n_in_last").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType))))
    graft.core.SwapStore.init(
      foldSessionize(empty, df, keys, ts, tie, gapMs)._2, path)
  }

  /** Continuous per-event sessionization: each micro-batch labels its
    * events against the persisted per-key state (last event time,
    * session count, current-session length) and folds the state
    * forward under the SwapStore ledger — sessions CONTINUE across
    * batches, exactly-once under replay. `onBatch` receives the
    * labeled rows (keys…, us, tie, session_idx, event_idx) and must be
    * idempotent under replay; in-order delivery required.
    */
  def sessionizeStream(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame, keys: Seq[String], ts: Column,
                       tie: Column, gapMs: Long, path: String,
                       checkpoint: Option[String] = None,
                       ephemeralOk: Boolean = false)
                      (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid) { cur =>
        val (out, next) = foldSessionize(cur, batch, keys, ts, tie, gapMs)
        onBatch(out)
        next
      }
    }

  def sessionize(df: DataFrame, keys: Seq[String], ts: Column, tie: Column,
                 gapMs: Long): DataFrame = {
    require(keys.nonEmpty, "sessionize: at least one key column")
    require(gapMs > 0, "sessionize: gapMs must be positive")
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("us"), col("tie"))
    val run = ord.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.select(keys.map(col) ++ Seq(unix_micros(ts).as("us"),
        tie.as("tie")): _*)
      .withColumn("__brk",
        when(col("us") - lag(col("us"), 1).over(ord) > gapMs * 1000L, 1L)
          .otherwise(lit(0L)))
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("session_idx", sum(col("__brk")).over(run) + 1L)
      // position within the session from the SAME sorted frame (no
      // second exchange): distance past the last session break
      .withColumn("event_idx",
        col("__rn") - coalesce(
          max(when(col("__brk") === 1L, col("__rn"))).over(run), lit(1L)) + 1L)
      .drop("__brk", "__rn")
  }
}
