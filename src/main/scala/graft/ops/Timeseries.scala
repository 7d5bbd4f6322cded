package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling over irregular per-key observations — the
  * time-series half of the reference's windowed aggregations
  * (`taskmanager/operators/windows.py` buckets event time the same way;
  * this op additionally FILLS the buckets nothing landed in, which the
  * reference leaves to the dashboard layer).
  */
object Timeseries {

  /** Resample each key's observations onto a regular grid with forward
    * fill: one output row per key per bucket `t` (multiples of `step`
    * from `floor(min/step)·step` to `floor(max/step)·step`, per key);
    * each value column carries the LAST observation at `ts < t + step`
    * — i.e. "value as of bucket end", so a bucket with no observation
    * repeats the previous one (pandas `resample().last().ffill()`).
    * The first bucket always contains the key's first observation, so
    * no leading nulls.
    *
    * Scale shape: the grid spine is generated from a key-sized bounds
    * aggregate (`sequence` over bucket ordinals — never a row per
    * tick driver-side), then spine and observations meet in the same
    * union-plus-window frame as `Joins.asofJoin`: ONE keyed exchange
    * for the fill, no join node anywhere. Dense keys cost rows, not
    * shuffles. Guards fail fast: `ts` must be a non-negative integral
    * (truncating and flooring division agree there, keeping the bucket
    * arithmetic engine-portable), (keys, ts) must be unique (the fill
    * winner would otherwise be ambiguous), and a key whose span exceeds
    * `maxBucketsPerKey` aborts instead of exploding a runaway spine.
    */
  def gapFill(obs: DataFrame, keys: Seq[String], tsCol: String, step: Long,
              valueCols: Seq[String], maxBucketsPerKey: Long = 1L << 22): DataFrame = {
    require(keys.nonEmpty, "gapFill: at least one key column")
    require(step > 0, "gapFill: step must be positive")
    require(valueCols.nonEmpty, "gapFill: name the value columns to fill")
    (keys ++ (tsCol +: valueCols)).foreach(c => require(obs.columns.contains(c),
      s"gapFill: no column $c"))
    val reserved = Seq("_ts", "_side", "_v", "__b")
    require(obs.columns.intersect(reserved).isEmpty,
      s"gapFill: input uses reserved column names: ${reserved.mkString(", ")}")
    require(obs.schema(tsCol).dataType.simpleString.matches("bigint|int|smallint|tinyint"),
      s"gapFill: $tsCol must be integral ticks (got ${obs.schema(tsCol).dataType.simpleString}) — " +
        "convert timestamps to epoch units first")

    // SQL equality semantics: a null key or tick matches no bucket — drop
    val rows = obs.where((keys :+ tsCol).map(col(_).isNotNull).reduce(_ && _))
    val dup = rows.groupBy((keys :+ tsCol).map(col): _*)
      .agg(count(lit(1)).as("c")).where(col("c") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"gapFill: duplicate (key, $tsCol) observations (e.g. ${dup.headOption.orNull}) — " +
        "pre-aggregate to one row per key per tick")

    // key-sized bounds; the single guard row is the fail-fast posture,
    // not a data path (same shape as KMeans.fit's overflow pre-check)
    val bounds = rows.groupBy(keys.map(col): _*)
      .agg(min(col(tsCol)).as("__mn"), max(col(tsCol)).as("__mx"))
    val guard = bounds.agg(
      min(col("__mn")).as("mn"), max(col("__mx")).as("mx"),
      max(expr(s"(__mx div $step) - (__mn div $step) + 1")).as("buckets")
    ).collect().headOption.filterNot(_.isNullAt(0)) // all-null = empty input
    guard.foreach { g =>
      require(g.getLong(0) >= 0,
        s"gapFill: $tsCol has negative ticks (min=${g.getLong(0)}) — " +
          "truncating division would misalign buckets below zero")
      require(g.getLong(1) <= Long.MaxValue - step,
        s"gapFill: max tick ${g.getLong(1)} too close to Long.MaxValue for step $step")
      require(g.getLong(2) <= maxBucketsPerKey,
        s"gapFill: a key spans ${g.getLong(2)} buckets (> $maxBucketsPerKey) — " +
          "raise step or maxBucketsPerKey")
    }

    val spine = bounds.select(keys.map(col) :+
      explode(sequence(expr(s"__mn div $step"), expr(s"__mx div $step"))).as("__b"): _*)
    val obsSide = rows.select(keys.map(col) ++ Seq(
      col(tsCol).as("_ts"), lit(0).as("_side"), lit(null).cast("long").as("__b"),
      struct(valueCols.map(col): _*).as("_v")): _*)
    val vType = obsSide.schema("_v").dataType
    // spine rows sort at bucket END (inclusive tick): an observation ON
    // the boundary belongs to the bucket it closes, side 0 before 1
    val spineSide = spine.select(keys.map(col) ++ Seq(
      (col("__b") * step + (step - 1)).as("_ts"), lit(1).as("_side"), col("__b"),
      lit(null).cast(vType).as("_v")): _*)

    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obsSide.unionByName(spineSide)
      .withColumn("_v", last(col("_v"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(keys.map(col) ++ ((col("__b") * step).as(tsCol) +:
        valueCols.map(c => col(s"_v.$c").as(c))): _*)
  }

  /** One-sided CUSUM change detection per key — the classical
    * sequential drift alarm (Page 1954): over each key's observations
    * in (ts, tieBreak) order, the clamped cumulative sum of deviations
    *
    *   s_i = max(0, s_{i-1} + (x_i − target)),   s_{-1} = 0
    *
    * with a breach wherever s_i > threshold. Reported per key:
    * `n` observations, `max_cusum`, `n_breach`, and `first_breach_us`
    * (epoch-µs of the first breach, null if none).
    *
    * The recurrence LOOKS inherently sequential, but clamping at zero
    * has a closed scan form: with prefix sums P_i = Σ_{j≤i} (x_j −
    * target),
    *
    *   s_i = P_i − min(0, min_{j≤i} P_j)
    *
    * so the whole path is two running window functions (running sum,
    * then running min of it) over ONE per-key sort — no iteration, no
    * state loop, and EXACT integer arithmetic end to end (`value` must
    * be integral: scale currency to cents first; engine-portable, no
    * FP accumulation drift by construction).
    *
    * Scale shape: one keyed exchange; both windows and the final
    * per-key aggregate share the same hash partitioning, so the
    * aggregate adds no second shuffle. Sequentialism is bounded by the
    * per-key series length, keys run in parallel.
    *
    * Reference scope: the reference's anomaly surface is stateless
    * per-row rules (GUI `filter_op`); CUSUM is the stateful drift
    * complement next to [[Trend]] and the KS drift screen (q190).
    */
  def cusum(df: DataFrame, keys: Seq[String], ts: org.apache.spark.sql.Column,
            tieBreak: org.apache.spark.sql.Column,
            value: org.apache.spark.sql.Column,
            target: Long, threshold: Long): DataFrame = {
    require(keys.nonEmpty, "cusum: at least one key column")
    require(threshold > 0, "cusum: threshold must be positive")
    val vType = df.select(value.as("__v")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(vType),
      s"cusum: value must be integral for exact arithmetic (got $vType) — " +
        "scale currency to cents first")
    val base = df.select(keys.map(col) ++ Seq(ts.as("__ts"),
      tieBreak.as("__tie"), (value.cast("long") - target).as("__d")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = base
      .withColumn("__p", sum(col("__d")).over(w))
      .withColumn("__s", col("__p") - least(lit(0L), min(col("__p")).over(w)))
    s.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      max(col("__s")).as("max_cusum"),
      sum(when(col("__s") > threshold, 1L).otherwise(0L)).as("n_breach"),
      min(when(col("__s") > threshold, unix_micros(col("__ts"))))
        .as("first_breach_us"))
  }

  /** One micro-batch of the continuous CUSUM: fold `batch`'s events
    * (sorted in (ts, tie) order) into the per-key state table `cur`
    * with schema (keys…, n, max_cusum, n_breach, first_breach_us, s).
    * The clamped recurrence is genuinely order-dependent across
    * batches, so the stream contract is IN-ORDER DELIVERY: every event
    * of batch k+1 at-or-after batch k's (the replay harness's ordered
    * slices; a Kafka source partitioned by key with in-partition order
    * gives the same per-key guarantee). Untouched keys carry over
    * unchanged; new keys start from zero state.
    */
  private def requireIntegralValue(df: DataFrame,
                                   value: org.apache.spark.sql.Column,
                                   who: String): Unit = {
    val vType = df.select(value.as("__v")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(vType),
      s"$who: value must be integral for exact arithmetic (got $vType) — " +
        "scale currency to cents first")
  }

  private[ops] def foldCusum(cur: DataFrame, batch: DataFrame,
                             keys: Seq[String],
                             ts: org.apache.spark.sql.Column,
                             tieBreak: org.apache.spark.sql.Column,
                             value: org.apache.spark.sql.Column,
                             target: Long, threshold: Long): DataFrame = {
    val b = batch.select(keys.map(col) :+ struct(ts.as("t"), tieBreak.as("i"),
        (value.cast("long") - target).as("d"),
        unix_micros(ts).as("us")).as("__e"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
    val init = struct(
      coalesce(col("s"), lit(0L)).as("s"),
      coalesce(col("max_cusum"), lit(0L)).as("mx"),
      coalesce(col("n_breach"), lit(0L)).as("nb"),
      coalesce(col("first_breach_us"), lit(null).cast("long")).as("first"))
    val touched = cur.join(b, keys, "full_outer")
      .where(col("__es").isNotNull)
      .withColumn("__f", aggregate(col("__es"), init, (acc, e) => {
        val s2 = greatest(lit(0L), acc.getField("s") + e.getField("d"))
        struct(s2.as("s"),
          greatest(acc.getField("mx"), s2).as("mx"),
          (acc.getField("nb") +
            when(s2 > threshold, 1L).otherwise(0L)).as("nb"),
          coalesce(acc.getField("first"),
            when(s2 > threshold, e.getField("us"))).as("first"))
      }))
      .select(keys.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + size(col("__es"))).as("n"),
        col("__f.mx").as("max_cusum"),
        col("__f.nb").as("n_breach"),
        col("__f.first").as("first_breach_us"),
        col("__f.s").as("s")): _*)
    touched.unionByName(cur.join(b.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Seed the persisted CUSUM state store at `path` from an initial
    * batch (pass an empty frame of the right schema to start cold).
    */
  def initCusumStore(df: DataFrame, keys: Seq[String],
                     ts: org.apache.spark.sql.Column,
                     tieBreak: org.apache.spark.sql.Column,
                     value: org.apache.spark.sql.Column,
                     target: Long, threshold: Long, path: String): Unit = {
    requireIntegralValue(df, value, "initCusumStore")
    val empty = df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        df.select(keys.map(col): _*).schema.fields ++
          Seq("n", "max_cusum", "n_breach", "first_breach_us", "s").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType))))
    graft.core.SwapStore.init(
      foldCusum(empty, df, keys, ts, tieBreak, value, target, threshold), path)
  }

  /** The current per-key drift state under [[cusumStream]]: the q195
    * report columns plus the live accumulator `s`.
    */
  def readCusumStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** Continuous CUSUM: each micro-batch folds into the persisted state
    * under the SwapStore ledger (exactly-once; re-delivered batches
    * no-op). Per-trigger work is batch-plus-state-sized. Requires
    * in-order delivery (see [[foldCusum]]); pass a durable
    * `checkpoint` for any store that outlives one query.
    */
  def cusumStream(spark: org.apache.spark.sql.SparkSession,
                  stream: DataFrame, keys: Seq[String],
                  ts: org.apache.spark.sql.Column,
                  tieBreak: org.apache.spark.sql.Column,
                  value: org.apache.spark.sql.Column,
                  target: Long, threshold: Long, path: String,
                  checkpoint: Option[String] = None,
                  ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    requireIntegralValue(stream, value, "cusumStream")
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(cur =>
        foldCusum(cur, batch, keys, ts, tieBreak, value, target, threshold))
    }
  }

  /** Exact rolling distinct actives — the DAU/WAU/MAU curve: for every
    * tick in the observed span, how many distinct ids were active in
    * the trailing `windowTicks` window, plus that tick's own count.
    * COUNT DISTINCT cannot ride a window frame; the scalable exact
    * form is contribution EXPLOSION: each distinct (id, tick) activity
    * contributes itself to ticks t..t+w−1 (clipped at the observed
    * max), then one exact distinct aggregate per report tick. Work is
    * |distinct activity| × w — linear, tunable by w; for long windows
    * at extreme scale, the theta-sketch stores ([[Sketches]]) are the
    * approximate alternative. Gap ticks inside the span still report
    * (their trailing window reaches back); their own count is 0.
    * Output: (tick, n_active, n_window).
    */
  def rollingDistinct(df: DataFrame, tick: org.apache.spark.sql.Column,
                      id: org.apache.spark.sql.Column,
                      windowTicks: Long): DataFrame = {
    require(windowTicks >= 1, "rollingDistinct: windowTicks must be >= 1")
    val tType = df.select(tick.as("__t")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(tType),
      s"rollingDistinct: tick must be integral (got $tType)")
    val p = df.select(tick.cast("long").as("tick"), id.as("__id"))
      .where(col("tick").isNotNull && col("__id").isNotNull)
      .distinct().localCheckpoint() // the max job and the explode share it
    val mx = p.agg(max(col("tick"))).head
    if (mx.isNullAt(0)) return p.sparkSession.emptyDataFrame
      .select(lit(0L).as("tick"), lit(0L).as("n_active"), lit(0L).as("n_window"))
      .limit(0)
    val maxTick = mx.getLong(0)
    val win = p
      .select(explode(sequence(col("tick"),
        least(col("tick") + (windowTicks - 1), lit(maxTick)))).as("tick"),
        col("__id"))
      .groupBy(col("tick"))
      .agg(countDistinct(col("__id")).as("n_window"))
    val today = p.groupBy(col("tick")).agg(countDistinct(col("__id")).as("n_active"))
    win.join(today, Seq("tick"), "left")
      .select(col("tick"), coalesce(col("n_active"), lit(0L)).as("n_active"),
        col("n_window"))
  }

  /** Exact peak concurrency over closed integral intervals [start,
    * end]: the maximum number of intervals active at any tick, and the
    * earliest tick attaining it — "peak concurrent sessions", live
    * connection ceilings, capacity sizing. The classic sweep, made
    * order-unambiguous and distribution-friendly by TICK AGGREGATION:
    * +1 lands at `start`, −1 at `end + 1` (closed-interval semantics:
    * a session ending at t and one starting at t ARE concurrent),
    * deltas SUM per distinct tick first — so the running sum never
    * depends on intra-tick event order — then the inclusive running
    * delta (the exclusive prefix plus the tick's own delta) goes
    * through a struct-max.
    *
    * Scale shape: the interval-sized data collapses map-side into the
    * distinct-tick frame (one hash aggregate); the running delta over
    * it is [[PrefixSum.exclusive]] — one range shuffle of the ticks and
    * no window over them at any tick count, only per-partition totals
    * through the driver — and the struct-max is a partial aggregate. Output one row:
    * (max_concurrent, at_tick); empty input yields (0, null).
    * Intervals with end < start fail loudly.
    */
  def maxConcurrency(intervals: DataFrame,
                     start: org.apache.spark.sql.Column,
                     end: org.apache.spark.sql.Column): DataFrame = {
    Seq("start" -> start, "end" -> end).foreach { case (n, c) =>
      val t = intervals.select(c.as("__t")).schema.head.dataType.simpleString
      require(Seq("bigint", "int", "smallint", "tinyint").contains(t),
        s"maxConcurrency: $n must be integral ticks (got $t)")
    }
    val iv = intervals.select(start.cast("long").as("__s"),
        when(end.cast("long") < start.cast("long"),
          raise_error(lit("maxConcurrency: interval with end < start")))
          .otherwise(end.cast("long")).as("__e"))
      .where(col("__s").isNotNull && col("__e").isNotNull)
    val deltas = iv.select(col("__s").as("tick"), lit(1L).as("__d"))
      .unionByName(iv.select((col("__e") + 1L).as("tick"), lit(-1L).as("__d")))
      .groupBy(col("tick")).agg(sum(col("__d")).as("__d"))
    val peaked = PrefixSum.exclusive(deltas, Seq("tick"), "__d")
      .withColumn("__run", col("prefix_excl") + col("__d"))
      .agg(max(struct(col("__run"), (-col("tick")).as("nt"))).as("__m"))
      .select(col("__m.__run").as("max_concurrent"),
        (-col("__m.nt")).as("at_tick"))
    // empty input: no deltas -> the agg returns one null row; pin (0, null)
    peaked.select(
      coalesce(col("max_concurrent"), lit(0L)).as("max_concurrent"),
      col("at_tick"))
  }

  /** Trailing rolling aggregate on an integral tick grain: per (key,
    * tick), the tick's own total plus the sum and observation count
    * over the trailing `windowTicks`-wide RANGE — "7-day trailing
    * revenue per user", the moving-aggregate workhorse. The RANGE
    * frame makes gaps correct by construction (an absent tick simply
    * contributes nothing — no dense spine needed; [[gapFill]] first if
    * a row per tick is wanted). Exact integer sums.
    *
    * Scale shape: one map-side-partial pre-aggregate to (key, tick),
    * so the ROW-sized data exchanges exactly once, partially
    * aggregated; the window's re-exchange on the key alone moves only
    * the TICK-sized aggregate (plan-pinned in the spec — forcing a
    * single exchange would shuffle raw rows unaggregated, the wrong
    * trade when rows ≫ ticks). Output: keys…, tick, `v` (tick total),
    * `trail_sum`, `trail_ticks` over [tick−windowTicks+1, tick].
    */
  def rolling(df: DataFrame, keys: Seq[String], tick: org.apache.spark.sql.Column,
              value: org.apache.spark.sql.Column, windowTicks: Long): DataFrame = {
    require(keys.nonEmpty, "rolling: at least one key column")
    require(windowTicks >= 1, "rolling: windowTicks must be >= 1")
    val tType = df.select(tick.as("__t")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(tType),
      s"rolling: tick must be integral (got $tType) — bucket timestamps first")
    requireIntegralValue(df, value, "rolling")
    val per = df.select(keys.map(col) ++ Seq(tick.cast("long").as("tick"),
        value.cast("long").as("__x")): _*)
      .where(col("tick").isNotNull)
      .groupBy(keys.map(col) :+ col("tick"): _*)
      .agg(sum(col("__x")).as("v"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("tick"))
      .rangeBetween(-(windowTicks - 1), 0)
    per
      .withColumn("trail_sum", sum(col("v")).over(w))
      .withColumn("trail_ticks", count(lit(1)).over(w))
  }

  /** Single changepoint localization per key: the split index i that
    * maximizes the two-segment SSE reduction over the (ts, tie)-ordered
    * series — "where did this metric's level shift" (CUSUM says THAT it
    * drifted; this says WHERE). The classical identity removes the
    * squares entirely:
    *
    *   gain(i) = S_i²/i + (S_n−S_i)²/(n−i) − S_n²/n
    *
    * so the whole scan is ONE prefix-sum window + per-key totals, and
    * the argmax is a struct-max (deterministic ties: smallest i). All
    * sums are exact integers (`value` must be integral); gain is one
    * double expression over them, identical on any engine, so the
    * argmax is engine-stable. Keys with fewer than 2 observations have
    * no valid split and are absent from the output.
    *
    * Output: keys…, `n`, `cp_idx` (last index of the left segment,
    * 1-based), `cp_us` (epoch-µs of that observation), `gain`.
    *
    * Scale shape: one keyed exchange; the windows and the final
    * struct-max aggregate share its partitioning.
    */
  def changepoint(df: DataFrame, keys: Seq[String],
                  ts: org.apache.spark.sql.Column,
                  tieBreak: org.apache.spark.sql.Column,
                  value: org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "changepoint: at least one key column")
    requireIntegralValue(df, value, "changepoint")
    val wRun = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keys.map(col): _*)
    val base = df.select(keys.map(col) ++ Seq(ts.as("__t"), tieBreak.as("__i"),
        value.cast("long").as("__x")): _*)
      .withColumn("__s", sum(col("__x")).over(wRun))
      .withColumn("__r", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("__t"), col("__i"))))
      .withColumn("__st", sum(col("__x")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__r") < col("__n"))
    val sD = col("__s").cast("double")
    val stD = col("__st").cast("double")
    val iD = col("__r").cast("double")
    val nD = col("__n").cast("double")
    val gain = (((sD * sD) / iD) +
      (((stD - sD) * (stD - sD)) / (nD - iD))) - ((stD * stD) / nD)
    base
      .withColumn("__g", struct(gain.as("g"), (-col("__r")).as("ni"),
        unix_micros(col("__t")).as("us")))
      .groupBy(keys.map(col): _*)
      .agg(max(col("__n")).as("n"), max(col("__g")).as("__m"))
      .select(keys.map(col) ++ Seq(col("n"),
        (-col("__m.ni")).cast("long").as("cp_idx"), col("__m.us").as("cp_us"),
        col("__m.g").as("gain")): _*)
  }

  /** Per-key ORDERED sequential fold: collect each key's values in
    * (ts, tieBreak) order and fold them left-to-right through `merge`
    * — the primitive for genuinely sequential statistics with no scan
    * identity (state-dependent smoothing, path-dependent simulations).
    * The first element seeds the accumulator; keys with one value
    * return it. Output: keys, `n`, `folded`.
    *
    * Scale shape: ONE keyed exchange into `collect_list`, the fold
    * runs inside a codegen'd higher-order `aggregate` over the sorted
    * array — sequentialism bounded by series length, keys parallel.
    * The whole series buffers in one task's heap (the same per-key
    * memory bound as any per-key sort); series are expected BOUNDED
    * (events per user, ticks per instrument) — shard the key or
    * pre-aggregate if a key's series is unbounded.
    *
    * Struct ordering does the sort: (ts, tie, value) sorts
    * lexicographically, so (ts, tie) must be integral/comparable and
    * unique per key for a deterministic fold.
    */
  def foldOrdered(df: DataFrame, keys: Seq[String],
                  ts: org.apache.spark.sql.Column,
                  tieBreak: org.apache.spark.sql.Column,
                  value: org.apache.spark.sql.Column)
                 (merge: (org.apache.spark.sql.Column,
                          org.apache.spark.sql.Column) => org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "foldOrdered: at least one key column")
    df.select(keys.map(col) :+
        struct(ts.as("t"), tieBreak.as("i"), value.as("v")).as("__e"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .withColumn("__vs", transform(col("__es"), e => e.getField("v")))
      .select(keys.map(col) ++ Seq(
        size(col("__vs")).cast("long").as("n"),
        aggregate(
          slice(col("__vs"), lit(2), size(col("__vs")) - 1),
          element_at(col("__vs"), 1),
          merge).as("folded")): _*)
  }

  /** Integer EWMA with α = 1/2: s_0 = x_0, s_i = (s_{i-1} + x_i) div 2
    * — deterministic smoothing in EXACT integer arithmetic (truncating
    * div; values must be non-negative integral, e.g. cents, or the
    * truncation direction becomes engine-dependent). A [[foldOrdered]]
    * instance: the recurrence is genuinely sequential (unlike
    * [[cusum]], no closed scan form — each step truncates), so it
    * rides the ordered fold. Output: keys, `n`, `ewma`.
    */
  def ewmaHalf(df: DataFrame, keys: Seq[String],
               ts: org.apache.spark.sql.Column,
               tieBreak: org.apache.spark.sql.Column,
               value: org.apache.spark.sql.Column): DataFrame = {
    val vType = df.select(value.as("__v")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(vType),
      s"ewmaHalf: value must be integral (got $vType) — scale to cents first")
    // projection-side guard (a filter-side raise_error can be pushed
    // past joins — SparkEntry convention); >> 1 is exact halving on
    // the guaranteed-non-negative sums
    val guarded = when(value < 0,
      raise_error(concat(lit("ewmaHalf: negative value (truncation "),
        lit("direction is engine-dependent below zero): "),
        value.cast("string"))))
      .otherwise(value.cast("long"))
    foldOrdered(df, keys, ts, tieBreak, guarded)(
      (acc, x) => shiftright(acc + x, 1))
      .withColumnRenamed("folded", "ewma")
  }

  /** EXACT sample autocorrelation per key, lags 1..`maxLag` — the
    * seasonality/persistence probe behind every "is this metric
    * periodic" question (Box-Jenkins identification; the reference's
    * windowed aggregates produce exactly the per-bucket series this
    * consumes). The standard estimator
    *
    *   r_k = Σ_{t≤n−k} (x_t−x̄)(x_{t+k}−x̄) / Σ_t (x_t−x̄)²
    *
    * is a ratio of rationals; with q_t = n·x_t − Σx (integers) the n²
    * factors cancel, r_k = Σ q_t·q_{t+k} / Σ q_t², and the ppm floor
    * computes EXACTLY in decimal(38,0) — no floating point, so the
    * oracle replays it bit-for-bit (negative numerators floor via the
    * subtract-pmod-then-divide identity, the t-closeness ppm pattern).
    *
    * Scale shape: ONE keyed exchange + sort (the lead window); the
    * per-key stats ride a partition-only window over the same
    * exchange, and the lag explode happens on the key-sized aggregate
    * frame, never on rows. Exact while n·|x| < 2³¹ per key and
    * n·q² < 10³² (decimal(38,0) headroom past the ×10⁶ ppm scale) —
    * series are per-key aggregates (buckets), not raw events, so both
    * bounds hold by construction at any corpus scale. Guards fail
    * fast: `ord` must be unique per key (a duplicate tick would make
    * lead() nondeterministic — caught in-plan on the sorted frame, no
    * extra exchange) and x must be integral.
    *
    * Output: keys, `lag`, `n` (series length), `acf_ppm` = ⌊10⁶·r_k⌋;
    * keys with zero variance (den = 0: constant series, ACF undefined)
    * and lags with no overlapping pairs are omitted.
    */
  def autocorr(df: DataFrame, keys: Seq[String],
               ord: org.apache.spark.sql.Column,
               x: org.apache.spark.sql.Column, maxLag: Int): DataFrame = {
    require(keys.nonEmpty, "autocorr: at least one key column")
    require(maxLag >= 1 && maxLag <= 512, s"autocorr: 1 <= maxLag <= 512, got $maxLag")
    val xType = df.select(x.as("__x")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(xType),
      s"autocorr: x must be integral (got $xType) — bucket or scale to cents first")
    val reserved = Seq("__t", "__x", "__q", "__den", "__l", "lag", "n", "acf_ppm") ++
      (1 to maxLag).flatMap(k => Seq(s"__p$k", s"__n$k"))
    require(df.columns.intersect(reserved).isEmpty,
      s"autocorr: input columns ${df.columns.intersect(reserved).mkString(", ")} " +
        "collide with working/output names — rename them first")
    val base = df.select(keys.map(col) :+ ord.as("__t") :+ x.cast("long").as("__x"): _*)
    val wKey = Window.partitionBy(keys.map(col): _*)
    val wOrd = wKey.orderBy(col("__t"))
    // q_t = n·x_t − S, computed IN decimal(38,0): the long form would
    // silently wrap past the n·|x| envelope and emit wrong acf_ppm
    // (r14 advisor finding) — the cast-first form is exact at any n·|x|
    // this operator admits and costs nothing extra (the window sort is
    // shared either way). The next-tick probe shares wOrd's sort, so
    // the uniqueness guard costs no extra exchange.
    val q0 = count(lit(1)).over(wKey).cast("decimal(38,0)") *
      col("__x").cast("decimal(38,0)") -
      sum(col("__x").cast("decimal(38,0)")).over(wKey)
    val nextT = lead(col("__t"), 1).over(wOrd)
    // NULL ticks first: NULLs sort together, so the duplicate check
    // below would either miss them (all-NULL key: nextT.isNull short-
    // circuits and lead() pairs rows in arbitrary tie order) or blame
    // a "duplicate" that isn't (mixed key: nextT =!= null is NULL)
    val q = when(col("__t").isNull, raise_error(
        lit("autocorr: NULL ordering value (rows without a tick have no " +
          "position in the series) — filter them first")))
      .when(nextT.isNull || nextT =!= col("__t"), q0)
      .otherwise(raise_error(concat(
        lit("autocorr: duplicate ordering value per key (lead() would be "),
        lit("nondeterministic): "), col("__t").cast("string"))))
    val withLeads = base.select(keys.map(col) ++ Seq(q.as("__q")) ++
      (1 to maxLag).map(k => lead(q0, k).over(wOrd).as(s"__p$k")): _*)
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(col("__q") * col("__q")).as("__den")) ++
      (1 to maxLag).map(k => sum(col("__q") * col(s"__p$k")).as(s"__n$k"))
    val agg = withLeads.groupBy(keys.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val lagStructs = array((1 to maxLag).map(k =>
      struct(lit(k.toLong).as("lag"), col(s"__n$k").as("num"))): _*)
    val num = col("__l.num") * lit(1000000L)
    agg.where(col("__den") > 0)
      .select(keys.map(col) ++ Seq(col("n"), col("__den"),
        explode(lagStructs).as("__l")): _*)
      .where(col("__l.num").isNotNull)
      .select(keys.map(col) ++ Seq(col("__l.lag").as("lag"), col("n"),
        ((num - pmod(num, col("__den"))) / col("__den"))
          .cast("long").as("acf_ppm")): _*)
  }
}
