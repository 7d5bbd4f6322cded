package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pareto frontier (skyline) per group: the rows not dominated within
  * their group, maximizing one dimension and minimizing the other —
  * "best tradeoff" screens (largest size at lowest price, highest
  * quality at lowest toxicity, longest document at lowest perplexity).
  * Row q dominates row r iff q.max ≥ r.max, q.min ≤ r.min, and at
  * least one is strict; exact ties survive together.
  *
  * NOT the naive O(n²) self-join. Two-dimensional dominance collapses
  * to a staircase: a row survives iff its min-dim value equals the
  * group's best at its own max-dim value AND beats the best over all
  * STRICTLY LARGER max-dim values. So:
  *
  *   1. one hash aggregate to (group, maxv) → min(minv)   — corpus-
  *      sized work, fully parallel, map-side partial;
  *   2. a running min over that aggregate, window-partitioned BY GROUP
  *      and ordered by maxv descending — per-group work over
  *      |distinct maxv| rows, never the raw data;
  *   3. one join of the staircase back to the rows on (group, maxv) —
  *      the staircase is aggregate-sized, broadcast when small.
  *
  * Scale shape: the raw table shuffles once (the groupBy) and joins
  * once against the much smaller staircase; the only sequential work
  * is step 2's per-group running min, bounded by the max-dim's
  * per-group cardinality — for a CONTINUOUS max dimension, bucket it
  * first (e.g. `floor(x * 100)`) or the staircase degenerates to row
  * count. Dimensions beyond 2: iterate skylines (a 2-d skyline is a
  * superset filter for any extension), or grid-prune then exact —
  * out of scope here.
  *
  * Rows with NULL in either dimension are excluded (dominance is
  * undefined on missing values).
  *
  * Reference scope: the reference has no multi-objective screen; this
  * extends the analytics surface next to [[Trend]]'s per-group fits.
  */
object Frontier {

  /** Skyline of `df` per `groupCols`: maximize `maxCol`, minimize
    * `minCol`. Returns the surviving input rows with all their
    * columns. Pass `groupCols = Seq.empty` for a global skyline (the
    * staircase then lives in a single window partition — fine, it is
    * aggregate-sized).
    */
  def skyline2d(df: DataFrame, groupCols: Seq[String],
                maxCol: String, minCol: String,
                broadcastStaircase: Boolean = true): DataFrame = {
    val rows = df.where(col(maxCol).isNotNull && col(minCol).isNotNull)
    val keys = groupCols.map(col) :+ col(maxCol)
    val agg = rows.groupBy(keys: _*).agg(min(col(minCol)).as("__own"))
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(maxCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val stair0 = agg.withColumn("__better", min(col("__own")).over(w))
    // the staircase is aggregate-sized; broadcast by default, but a
    // high-cardinality max dimension can force the shuffled join
    val stair = if (broadcastStaircase) broadcast(stair0) else stair0
    rows.join(stair, groupCols :+ maxCol)
      .where(col(minCol) === col("__own") &&
        (col("__better").isNull || col(minCol) < col("__better")))
      .drop("__own", "__better")
  }

  // ---- standing frontier (continuous form) ----
  // Skyline distributes over union — SKY(A ∪ B) = SKY(SKY(A) ∪ B) — and
  // a dominated row can never rejoin a frontier, so the standing state
  // IS the frontier itself: per trigger the (small) frontier unions the
  // batch and re-skylines, frontier-plus-batch-sized work regardless of
  // how many rows ever streamed through. Exactly-once rides the
  // SwapStore ledger (re-delivered batch ids are no-ops).

  /** Seed the persisted frontier at `path` from an initial batch. */
  def initSkylineStore(df: DataFrame, groupCols: Seq[String],
                       maxCol: String, minCol: String, path: String): Unit =
    graft.core.SwapStore.init(skyline2d(df, groupCols, maxCol, minCol), path)

  /** The current standing frontier under [[skylineStream]]. */
  def readSkylineStore(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** Continuous frontier maintenance: each arriving micro-batch unions
    * into the persisted frontier and re-skylines. Batch schema must
    * match the seeded store's. Pass a durable `checkpoint` for any
    * store that outlives one query (Sketches' loud-ephemeral posture).
    */
  def skylineStream(spark: org.apache.spark.sql.SparkSession,
                    stream: DataFrame, groupCols: Seq[String],
                    maxCol: String, minCol: String, path: String,
                    checkpoint: Option[String] = None,
                    ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(cur =>
        skyline2d(cur.unionByName(batch), groupCols, maxCol, minCol))
    }
}
