package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT order statistics at scale without a global sort: the k-th
  * smallest value of an integral column by iterative range bisection —
  * each pass histograms the surviving value range into 4096
  * equal-width buckets (one partial-aggregated scan, ≤ 4097 rows
  * exchanged), locates the bucket containing rank k, and recurses into
  * it. A 64-bit domain resolves in ≤ ⌈64/12⌉ = 6 passes; real data
  * ranges in 2-3.
  *
  * This is the distributed-selection answer to "exact median over
  * 100 TB": a global sort shuffles the whole table; Spark's exact
  * `percentile` aggregate collects every value into one aggregation
  * buffer; `approx_percentile` is not exact (q54 holds it to an error
  * bar instead). Bisection scans, never sorts, never collects values —
  * and each pass after the first carries a pushed range filter, so
  * the scanned volume drops with the range.
  *
  * Determinism: the result is a VALUE present in the data (discrete
  * quantile), defined purely by rank arithmetic — integer ceil
  * division, engine-portable, DuckDB-replayable by row_number.
  * Nulls are excluded (SQL aggregate convention).
  */
object Quantiles {

  private val B = 4096L

  /** Hard ceiling on the per-group bisection's group count — the
    * driver holds (and re-broadcasts per pass) one bounds row per
    * group. See the guard in `selectByKey`.
    */
  val MaxGroups: Int = 10000000

  /** The k-th smallest (1-based) non-null value of `value`. */
  def exactRank(df: DataFrame, value: Column, k: Long): Long = {
    val vals = toLongCol(df, value)
    val m = vals.agg(count(lit(1)).as("n"),
      min(col("v")).as("lo"), max(col("v")).as("hi")).head
    val n = m.getLong(0)
    require(n > 0, "exactRank: no non-null values")
    require(k >= 1 && k <= n, s"exactRank: rank $k outside [1, $n]")
    descend(vals, k, m.getLong(1), m.getLong(2))
  }

  /** Discrete percentiles as a DataFrame (q_pct, rk, value): for each
    * integer percent p, the value at 1-based rank max(1, ⌈p·n/100⌉).
    * Every requested rank bisects SIMULTANEOUSLY through the shared
    * keyed passes (each percent is a virtual group), so p50+p90+p99
    * cost the same ≤6 scans as one percentile — one histogram job per
    * pass total, not per percent.
    */
  def percentiles(df: DataFrame, value: Column, pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"percentiles: percents must be in [1,100], got ${pcts.mkString(",")}")
    val one = df.select(value.as("v"))
    val dt = one.schema("v").dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt),
      s"quantiles: value must be integral (cast DECIMAL money to cents first), got $dt")
    val withP = one.withColumn("q_pct",
      explode(array(pcts.distinct.map(p => lit(p.toLong)): _*)))
    val out = selectByKey(withP, Seq("q_pct"), col("v"),
      "greatest(1L, (q_pct * __n + 99L) div 100L)")
      .select(col("q_pct"), col("rk"), col("value"))
    require(!out.isEmpty, "percentiles: no non-null values")
    out
  }

  private def toLongCol(df: DataFrame, value: Column): DataFrame = {
    val one = df.select(value.as("v"))
    val dt = one.schema("v").dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt),
      s"quantiles: value must be integral (cast DECIMAL money to cents first), got $dt")
    one.where(col("v").isNotNull).select(col("v").cast("long"))
  }

  private def width(lo: Long, hi: Long): Long = {
    val range = try math.subtractExact(hi, lo) catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"quantiles: value range [$lo, $hi] spans more than a Long — " +
          "rescale the column first")
    }
    range / B + 1
  }

  /** One histogram pass: bucket counts over [lo, hi], ≤ B+1 rows. */
  private def histogram(vals: DataFrame, lo: Long, hi: Long): Array[(Long, Long)] = {
    val w = width(lo, hi)
    vals.select(expr(s"(v - ${lo}L) div ${w}L").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
  }

  /** Which bucket holds rank k; returns its value range and the rank
    * within it.
    */
  private def locate(hist: Array[(Long, Long)], k: Long, lo: Long,
                     hi: Long): (Long, Long, Long) = {
    val w = width(lo, hi)
    var below = 0L
    var i = 0
    while (i < hist.length) {
      val (b, c) = hist(i)
      if (k <= below + c)
        return (lo + b * w, math.min(lo + (b + 1) * w - 1, hi), k - below)
      below += c
      i += 1
    }
    throw new IllegalStateException(s"quantiles: rank $k beyond histogram mass $below")
  }

  @annotation.tailrec
  private def descend(vals: DataFrame, k: Long, lo: Long, hi: Long): Long =
    if (lo == hi) lo
    else {
      val (blo, bhi, kIn) = locate(histogram(vals, lo, hi), k, lo, hi)
      descend(vals.where(col("v").between(blo, bhi)), kIn, blo, bhi)
    }

  /** PER-GROUP exact discrete percentile — the keyed twin of
    * [[percentiles]], still sort-free and value-collection-free: every
    * group bisects its own value range SIMULTANEOUSLY in the same
    * passes. Per pass: the open groups' (lo, hi, remaining-rank) bounds
    * — a group-sized frame — broadcast-join the corpus scan, each row
    * buckets against ITS group's range, and a (group × ≤4096)-row
    * partial-aggregated histogram plus a group-partitioned running-sum
    * window picks each group's next sub-range. A 64-bit domain closes
    * in ≤ ⌈64/12⌉ = 6 passes; groups that finish early ride along
    * closed.
    *
    * Contrast at 100 TB: Spark's exact `percentile` aggregate buffers
    * EVERY value of a group in one aggregation buffer (a hot group
    * OOMs an executor); a window row_number needs a per-group sort of
    * the whole table. Here nothing corpus-sized ever exchanges — the
    * corpus is only scanned (once per pass), histograms are the only
    * shuffle, and driver traffic is one tiny open-group count per pass.
    * Requires the GROUP BOUNDS frame (not the data) to be
    * broadcastable: guarded at [[MaxGroups]] (10M) groups — a loud
    * `require`, never a silent driver OOM.
    *
    * Domain (measured, ThroughputBench scenario 24): this wins when
    * groups are HOT — 100M rows / 16 groups runs 7.1 s vs 76.3 s for
    * the window baseline, while the exact percentile aggregate OOMs
    * outright at that shape. With MANY TINY groups the per-pass
    * histogram frame (groups × ≤4096 rows) outweighs the data and a
    * plain sort-based aggregate wins (measured 0.2× at 2k-row
    * groups) — pick by group size, not reflexively.
    *
    * Rank convention matches [[percentiles]]: value at 1-based rank
    * max(1, ⌈p·n/100⌉) per group, nulls excluded; groups are rows of
    * the output (key cols, n, rk, value).
    */
  def exactPercentileByKey(df: DataFrame, keys: Seq[String], value: Column,
                           pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"exactPercentileByKey: pct in [1,100], got $pct")
    selectByKey(df, keys, value, s"greatest(1L, (${pct}L * __n + 99L) div 100L)")
  }

  /** WEIGHTED exact percentile per group: the smallest value whose
    * cumulative WEIGHT reaches ⌈p·W/100⌉ of the group's total weight W
    * — "median document length weighted by token count", "p95 latency
    * weighted by request volume". Same bisection passes as
    * [[exactPercentileByKey]] with bucket mass = Σweight instead of
    * row count; weights must be non-negative integral (exact mass
    * arithmetic — the whole point of the bisection is that no float
    * ever accumulates). Output (keys…, n = total weight, rk, value).
    */
  def exactWeightedPercentileByKey(df: DataFrame, keys: Seq[String],
                                   value: Column, weight: Column,
                                   pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100,
      s"exactWeightedPercentileByKey: pct in [1,100], got $pct")
    selectByKey(df, keys, value,
      s"greatest(1L, (${pct}L * __n + 99L) div 100L)", Some(weight))
  }

  /** Several percentiles per group in the SAME passes: each (group,
    * q_pct) pair bisects as its own virtual group, and one corpus scan
    * per pass serves all of them — p50+p95+p99 per group costs the same
    * ≤6 scans as one percentile, with the corpus rows replicated once
    * per requested percent on the way into each histogram (|pcts| is
    * tiny). Output adds a `q_pct` column.
    */
  def exactPercentilesByKey(df: DataFrame, keys: Seq[String], value: Column,
                            pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts == pcts.distinct,
      "exactPercentilesByKey: percents must be non-empty and distinct")
    require(pcts.forall(p => p >= 1 && p <= 100),
      s"exactPercentilesByKey: percents in [1,100], got ${pcts.mkString(",")}")
    require(!df.columns.contains("q_pct") && !keys.contains("q_pct"),
      "exactPercentilesByKey: q_pct is a reserved output column name")
    val withP = df.withColumn("q_pct",
      explode(array(pcts.map(p => lit(p.toLong)): _*)))
    selectByKey(withP, keys :+ "q_pct", value,
      "greatest(1L, (q_pct * __n + 99L) div 100L)")
  }

  private def selectByKey(df: DataFrame, keys: Seq[String], value: Column,
                          rkExpr: String,
                          weight: Option[Column] = None): DataFrame = {
    require(keys.nonEmpty, "exactPercentileByKey: at least one key column")
    val reserved = Seq("__v", "__m", "__n", "__rk", "__krem", "__lo", "__hi", "__w", "__b", "__c", "__cum", "__gid")
    require(df.columns.intersect(reserved).isEmpty,
      s"exactPercentileByKey: input uses reserved column names: ${reserved.mkString(", ")}")
    val wCol = weight.getOrElse(lit(1L))
    val one = df.select(keys.map(col) ++ Seq(value.as("__v"), wCol.as("__m")): _*)
    val dt = one.schema("__v").dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt),
      s"quantiles: value must be integral (cast DECIMAL money to cents first), got $dt")
    weight.foreach { _ =>
      val wt = one.schema("__m").dataType.simpleString
      require(Seq("bigint", "int", "smallint", "tinyint").contains(wt),
        s"quantiles: weight must be integral (exact mass arithmetic), got $wt")
    }
    val spark = df.sparkSession
    // pinForPasses: a single-file local source would otherwise serialize
    // EVERY pass's scan on one core and re-plan the full lineage per
    // pass; at scale the guard keeps the documented re-scan-per-pass
    // shape (narrow-column scans parallelize naturally there)
    val (vals, releaseVals, _) = ScanLayout.pinForPasses(
      one.where(col("__v").isNotNull)
        .select(keys.map(col) ++ Seq(col("__v").cast("long").as("__v"),
          when(col("__m").isNull || col("__m") < 0,
            raise_error(lit("quantiles: weights must be non-negative and " +
              "non-null"))).otherwise(col("__m").cast("long")).as("__m")): _*))

    // Per-group mass / lo / hi / target rank, COLLECTED: the bounds frame
    // is group-sized by contract (it must broadcast each pass anyway —
    // "fine up to millions of groups"), so the bisection bookkeeping
    // lives on the driver and each pass costs exactly ONE job: the
    // histogram scan whose per-group winning bucket comes back with the
    // collect. The previous form kept bounds distributed and paid 3-4
    // jobs per pass (localCheckpoint materialization, open-set isEmpty
    // probe, broadcast build) — pure driver-loop overhead at any scale,
    // and the dominant cost of the whole operator on the bench.
    val keyFields = vals.schema.fields.take(keys.length)
    try {
    val init = vals.groupBy(keys.map(col): _*)
      .agg(sum(col("__m")).as("__n"), min(col("__v")).as("__lo"),
        max(col("__v")).as("__hi"))
      .withColumn("__rk", expr(rkExpr))
      .collect()
    // EXPLICIT GROUP-COUNT CONTRACT (the "fine up to millions of
    // groups" envelope, made checkable): the bounds frame lives on the
    // driver and re-broadcasts each pass — ~40 bytes of longs per open
    // group plus the key values, i.e. low GBs at the 10M ceiling, the
    // same order as the broadcast the distributed form already
    // required. Beyond that this operator is the wrong tool (groups
    // outnumber useful per-group parallelism): use a sort-based
    // per-group aggregate instead. Fail loudly, never silently OOM.
    require(init.length <= MaxGroups,
      s"quantiles: ${init.length} groups exceeds the driver-side bisection " +
        s"ceiling of $MaxGroups — per-group percentile bookkeeping is " +
        "group-sized by contract; for group counts past the ceiling use a " +
        "sort-based per-group aggregate (many tiny groups beat bisection " +
        "there anyway, see the operator doc)")
    // group id → (key values, n, rk, remaining rank, surviving range):
    // the id (row position) is the join-back handle, so key equality
    // never needs driver-side hashing of arbitrary key types
    final case class GB(key: Seq[Any], n: Long, rk: Long, var krem: Long,
                        var lo: Long, var hi: Long)
    val groups = init.map { r =>
      val lo = r.getLong(keys.length + 1)
      val hi = r.getLong(keys.length + 2)
      // fail fast (Trend's posture) if any group's range spans more than a Long
      if (hi.toDouble - lo.toDouble > 8.9e18)
        throw new IllegalArgumentException(
          "quantiles: a group's value range spans more than a Long — " +
            "rescale the column first")
      val rk = r.getLong(keys.length + 3)
      GB(Seq.tabulate(keys.length)(r.get), r.getLong(keys.length), rk, rk, lo, hi)
    }
    val openSchema = org.apache.spark.sql.types.StructType(
      keyFields ++ Seq("__gid", "__krem", "__lo", "__hi", "__w").map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)))
    var open = groups.zipWithIndex.filter { case (g, _) => g.lo < g.hi }
    while (open.nonEmpty) {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(open.map { case (g, i) =>
          org.apache.spark.sql.Row.fromSeq(
            g.key ++ Seq(i.toLong, g.krem, g.lo, g.hi, (g.hi - g.lo) / B + 1))
        }: _*)
      val openDf = spark.createDataFrame(rows, openSchema)
      // the remaining rank is relative to the group's SURVIVING range —
      // rows outside it must not contribute histogram mass; the window
      // partitions per group over a ≤4096-row frame, never the corpus.
      // Only (gid, bucket, mass) enters the window exchange — the
      // per-group constants (krem, lo, hi, w) rejoin from the broadcast
      // AFTER the running sum, so the histogram shuffle stays three
      // longs per row (measured 45 MB → 15 MB on the multi-pct pass)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__gid")).orderBy(col("__b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val stepped = vals.join(broadcast(openDf), keys)
        .where(col("__v").between(col("__lo"), col("__hi")))
        .groupBy(col("__gid"), expr("(__v - __lo) div __w").as("__b"))
        .agg(sum(col("__m")).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(win))
        .join(broadcast(openDf.select(col("__gid"), col("__krem"),
          col("__lo"), col("__hi"), col("__w"))), "__gid")
        .where(col("__krem") > col("__cum") - col("__c") && col("__krem") <= col("__cum"))
        .select(col("__gid"), (col("__krem") - (col("__cum") - col("__c"))).as("__krem"),
          (col("__lo") + col("__b") * col("__w")).as("__lo"),
          least(col("__lo") + (col("__b") + 1) * col("__w") - 1, col("__hi")).as("__hi"))
        .collect()
      stepped.foreach { r =>
        val g = groups(r.getLong(0).toInt)
        g.krem = r.getLong(1); g.lo = r.getLong(2); g.hi = r.getLong(3)
      }
      open = open.filter { case (g, _) => g.lo < g.hi }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      keyFields ++ Seq("n", "rk", "value").map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType)))
    val outRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(groups.map(g =>
        org.apache.spark.sql.Row.fromSeq(g.key ++ Seq(g.n, g.rk, g.lo))): _*)
    spark.createDataFrame(outRows, outSchema)
    } finally releaseVals()
  }

  /** EXACT two-sample Kolmogorov–Smirnov distance per group — the
    * numeric-drift monitor between two loads (yesterday's prices vs
    * today's, corpus A vs corpus B): D = max over v of
    * |F_a(v) − F_b(v)| with the empirical CDFs evaluated AFTER all
    * ties at v (RANGE frame, the textbook convention). Computed in
    * integers — `d_num = max |ca·n_b − cb·n_a|` with D = d_num/(n_a·n_b)
    * — so the statistic is exact and hash-stable; the double `d` is
    * one final division. Output per group:
    * `(keys, n_a, n_b, d_num, d)`.
    *
    * Scale shape: one union scan, ONE group-partitioned range-ordered
    * window (KS is an ordered-traversal statistic — a per-group sort
    * is its lower bound; the partitioning keeps it group-local, never
    * a global sort), and a per-group max. Empty sides yield no row
    * for that group (D is undefined without both samples).
    */
  def ksDistance(a: DataFrame, b: DataFrame, keys: Seq[String],
                 value: Column): DataFrame = {
    require(keys.nonEmpty, "ksDistance: at least one key column")
    val working = Seq("__v", "__a", "__b", "__ca", "__cb", "__na", "__nb")
    require(a.columns.intersect(working).isEmpty &&
      b.columns.intersect(working).isEmpty,
      s"ksDistance: inputs use reserved working names (${working.mkString(", ")})")
    def side(df: DataFrame, av: Int, bv: Int) =
      df.select(keys.map(col) ++ Seq(value.as("__v"),
        lit(av.toLong).as("__a"), lit(bv.toLong).as("__b")): _*)
        .where(col("__v").isNotNull)
    val u = side(a, 1, 0).unionByName(side(b, 0, 1))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__v"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    u.withColumn("__ca", sum(col("__a")).over(wr))
      .withColumn("__cb", sum(col("__b")).over(wr))
      .withColumn("__na", sum(col("__a")).over(wk))
      .withColumn("__nb", sum(col("__b")).over(wk))
      .where(col("__na") > 0 && col("__nb") > 0)
      .groupBy(keys.map(col): _*)
      .agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        max(abs(col("__ca") * col("__nb") - col("__cb") * col("__na")))
          .as("d_num"))
      .withColumn("d", col("d_num").cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
  }

  /** Robust per-group outlier screen: EXACT median and EXACT MAD
    * (median absolute deviation) per group via the same range-bisection
    * machinery — no per-group sort, no value buffering — then count
    * values with |x − median| > k·MAD. The classical z-score breaks on
    * the very outliers it hunts (mean and stddev absorb them); the
    * median/MAD pair has a 50% breakdown point, which is why data-
    * quality monitors prefer it. Output: one row per group
    * `(keys, n, median, mad, n_outliers)`, nulls excluded.
    *
    * Scale shape: two bisection stacks (≤6 corpus scans each, a
    * (group × ≤4096)-row exchange per pass) plus one group-keyed join
    * of the corpus against the GROUP-SIZED median/MAD tables and one
    * final keyed aggregate — nothing per-group ever buffers. Degenerate
    * groups (MAD = 0: more than half the group sits at the median)
    * flag every off-median value under strict >; filter `mad > 0` to
    * skip them.
    */
  def madOutliers(df: DataFrame, keys: Seq[String], value: Column,
                  k: Double = 3.0): DataFrame = {
    require(k >= 0, s"madOutliers: k must be non-negative, got $k")
    val working = Seq("__x", "__med", "__dev", "__mad")
    require(df.columns.intersect(working).isEmpty,
      s"madOutliers: input uses reserved working names (${working.mkString(", ")})")
    val outNames = Seq("n", "median", "mad", "n_outliers")
    require(keys.intersect(outNames).isEmpty,
      s"madOutliers: key names collide with output columns (${outNames.mkString(", ")})")
    // one shared pin serves the median stack, the MAD stack AND the
    // final outlier count — in the local single-file regime the narrow
    // (keys, x) frame is otherwise re-derived single-threaded by every
    // pass of both stacks (ScanLayout's guard keeps the at-scale
    // re-scan shape untouched)
    val (vals, release, pinned) = ScanLayout.pinForPasses(
      df.select(keys.map(col) :+ value.as("__x"): _*)
        .where(col("__x").isNotNull))
    try {
      val med = exactPercentileByKey(vals, keys, col("__x"), 50)
        .select(keys.map(col) :+ col("value").as("__med"): _*)
      val dev = vals.join(med, keys) // right side is group-sized
        .withColumn("__dev", abs(col("__x") - col("__med")))
      val mad = exactPercentileByKey(
          dev.select(keys.map(col) :+ col("__dev"): _*), keys, col("__dev"), 50)
        .select(keys.map(col) :+ col("value").as("__mad"): _*)
      val out = dev.join(mad, keys)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"),
          first(col("__med")).as("median"),
          first(col("__mad")).as("mad"),
          sum(when(col("__dev") > lit(k) * col("__mad"), 1L).otherwise(0L))
            .as("n_outliers"))
      // the pinned pass input must outlive the RETURNED lazy frame only
      // in the local regime, where the final aggregate is cheap to
      // recompute from cache-or-source either way; materializing the
      // group-sized result here keeps release() safe and the output a
      // local relation like the stacks'
      if (pinned) {
        val spark = df.sparkSession
        spark.createDataFrame(
          java.util.Arrays.asList(out.collect(): _*), out.schema)
      } else out
    } finally release()
  }

  /** Equi-depth (quantile) binning: every row gets its 1-based bin of
    * `nBins` equal-COUNT buckets over the global (`value`, `key`)
    * order — feature discretization for training, deterministic under
    * ties (the unique key breaks them). bin = ((rank−1)·nBins) div N
    * + 1, from [[Sampling.rankBy]]'s two-phase distributed rank — one
    * range shuffle, never a single-partition global window. Rows with
    * a null value are dropped. Returns (key, rank, bin); join on key
    * to recover full rows.
    *
    * Equal-count semantics means a run of EQUAL values can straddle a
    * bin boundary; for value-boundary semantics clamp with
    * [[winsorize]]-style percentile bounds instead.
    */
  def quantileBins(df: DataFrame, key: Column, value: Column,
                   nBins: Int): DataFrame = {
    require(nBins >= 2, s"quantileBins: need nBins >= 2, got $nBins")
    val vals = df.where(value.isNotNull)
    val ranked = Sampling.rankBy(vals, key, value)
    // N from the RANK frame, not a separate corpus count: rankBy drops
    // exactly the null-value rows `vals` filters, so max(rank) == N, and
    // the rank frame reads the range shuffle rankBy already wrote — a
    // pass over slim (key, value) rows, not one more corpus scan
    val nRow = ranked.agg(max(col("rank"))).head
    require(!nRow.isNullAt(0), "quantileBins: no rows with a non-null value")
    val n = nRow.getLong(0)
    ranked
      .withColumn("bin",
        expr(s"((rank - 1) * ${nBins}L) div ${n}L") + 1L)
  }

  /** Empirical-CDF scoring against a REFERENCE distribution: each
    * query row gets the exact fraction (1e4 fixed point) of reference
    * values ≤ its value, within its key — "how unusual is today's
    * latency against last week's", anomaly scoring and drift
    * attribution at row grain. Keys present only in the queries score
    * NULL (no reference to stand on); a value below every reference
    * value scores 0.
    *
    * NOT a range join (reference × queries would explode): the
    * reference collapses to its distinct (key, value) frame with
    * per-key cumulative counts — one keyed window over the DISTINCT
    * frame — and the queries attach the floor entry by the
    * [[Joins.asofJoin]] union trick over the VALUE domain: one keyed
    * sort, no join node on the row-sized side. Values must be
    * integral (the house cents convention).
    */
  def cdfRank(queries: DataFrame, qKey: Column, qValue: Column,
              ref: DataFrame, rKey: Column, rValue: Column): DataFrame = {
    Seq(("query", queries, qValue), ("reference", ref, rValue)).foreach {
      case (side, df, v) =>
        val t = df.select(v.as("__v")).schema.head.dataType.simpleString
        require(Seq("bigint", "int", "smallint", "tinyint").contains(t),
          s"cdfRank: $side value must be integral (got $t)")
    }
    val r = ref.select(rKey.as("__k"), rValue.cast("long").as("__v"))
      .where(col("__k").isNotNull && col("__v").isNotNull)
    val perVal = r.groupBy(col("__k"), col("__v")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = perVal.withColumn("__cum", sum(col("__c")).over(w))
      .select(col("__k"), col("__v"), col("__cum"))
    val totals = r.groupBy(col("__k")).agg(count(lit(1)).as("__n"))
    Joins.asofJoin(
      queries, cum.select(col("__k"), col("__v"), col("__cum")),
      qKey, col("__k"), qValue.cast("long"), col("__v"),
      Seq("cum" -> col("__cum")))
      .join(totals.withColumnRenamed("__k", "__tk"),
        qKey === col("__tk"), "left")
      .withColumn("cdf_fp",
        when(col("__n").isNotNull,
          expr("coalesce(asof.cum, 0L) * 10000L div __n")))
      .drop("asof", "__tk", "__n")
  }

  /** Gini concentration coefficient per group, in EXACT 1e4 fixed
    * point — "how concentrated is revenue across this supplier's
    * orders", the inequality screen for corpus/source balance audits.
    * Over each group's sorted non-negative values x_(1) ≤ … ≤ x_(n):
    *
    *   G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)
    *
    * kept in integers: `gini_fp` = that ratio ×10000, truncating div.
    * Ties take ascending ranks (row_number) — Σ i·x_(i) is invariant
    * under tie order because tied values are equal. Zero-total or
    * singleton groups report NULL. `value` must be non-negative
    * integral (loud guard — Gini is undefined under negatives).
    *
    * Scale shape: one group-partitioned sort (the rank is the
    * statistic's lower bound — group-local, never global) into one
    * per-group aggregate sharing its partitioning. Σ i·x at 100 TB can
    * exceed a Long (rank × value both large), so the moment
    * accumulates in DECIMAL(38,0).
    */
  def giniByKey(df: DataFrame, keys: Seq[String], value: Column): DataFrame = {
    require(keys.nonEmpty, "giniByKey: at least one key column")
    val vt = df.select(value.as("__v")).schema.head.dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(vt),
      s"giniByKey: value must be integral (got $vt) — scale to cents first")
    val guarded = when(value < 0,
      raise_error(concat(lit("giniByKey: negative value: "),
        value.cast("string")))).otherwise(value.cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("__x"), col("__rnd"))
    val ranked = df.select(keys.map(col) :+ guarded.as("__x"): _*)
      .where(col("__x").isNotNull)
      .withColumn("__rnd", monotonically_increasing_id()) // stable tie order
      .withColumn("__i", row_number().over(w).cast("long"))
    ranked.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("total"),
      sum(col("__i").cast("decimal(38,0)") * col("__x").cast("decimal(38,0)"))
        .as("__ix"))
      // the numerator 2·Σix − (n+1)·Σx is ≥ 0 by rearrangement, so
      // truncating div == floor div and DuckDB's // replays it
      .withColumn("gini_fp",
        when(col("n") >= 2 && col("total") > 0, expr(
          "CAST((2 * __ix - CAST(n + 1 AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))) " +
            "* 10000 div (CAST(n AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0))) AS BIGINT)")))
      .drop("__ix")
  }

  /** Per-group winsorization: clamp `value` into its group's exact
    * [lowPct, highPct] percentile band (the standard robust feature
    * normalization before training — tails capped, not dropped).
    * Returns the input rows with `out` appended; NULL values pass
    * through unclamped (they carry no tail information).
    *
    * Both bounds come out of [[exactPercentilesByKey]]'s shared
    * bisection passes (the ≤6-scan machinery — no per-group sort, no
    * value buffering), pivot to one (keys, lo, hi) row per group, and
    * meet the corpus in ONE group-keyed join against the GROUP-SIZED
    * bounds table. Percentile convention is q121's inclusive rank —
    * the oracle replays it verbatim.
    */
  def winsorize(df: DataFrame, keys: Seq[String], value: Column,
                lowPct: Int, highPct: Int, out: String = "winsorized"): DataFrame = {
    require(lowPct >= 1 && highPct <= 100 && lowPct < highPct,
      s"winsorize: need 1 <= lowPct < highPct <= 100, got [$lowPct, $highPct]")
    val working = Seq("__x", "__lo", "__hi")
    require(df.columns.intersect(working :+ out).isEmpty,
      s"winsorize: input uses reserved or output names (${(working :+ out).mkString(", ")})")
    val vals = df.select(keys.map(col) :+ value.as("__x"): _*)
      .where(col("__x").isNotNull)
    val bounds = exactPercentilesByKey(vals, keys, col("__x"), Seq(lowPct, highPct))
      .groupBy(keys.map(col): _*)
      .agg(max(when(col("q_pct") === lowPct, col("value"))).as("__lo"),
        max(when(col("q_pct") === highPct, col("value"))).as("__hi"))
    df.join(bounds, keys, "left") // group-sized right side
      // greatest/least IGNORE nulls, which is right for a group with
      // no bounds (pass through) but wrong for a NULL value (it would
      // clamp to a bound) — keep nulls null explicitly
      .withColumn(out, when(value.isNull, lit(null))
        .otherwise(least(greatest(value, col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Per-group robust profile — the (median, MAD) bounds a continuous
    * monitor flags against, computed once from a reference corpus by
    * the same two bisection stacks as [[madOutliers]] (no per-group
    * sort, no value buffering). Output: one row per group
    * `(keys, median, mad)`, nulls excluded.
    */
  def madProfile(df: DataFrame, keys: Seq[String], value: Column): DataFrame = {
    val working = Seq("__x", "__dev")
    require(df.columns.intersect(working).isEmpty,
      s"madProfile: input uses reserved working names (${working.mkString(", ")})")
    require(keys.intersect(Seq("median", "mad")).isEmpty,
      "madProfile: key names collide with output columns (median, mad)")
    // same shared pin as madOutliers: both stacks read one spread,
    // cached copy of the narrow (keys, x) frame in the local
    // single-file regime; no-op at scale
    val (vals, release, _) = ScanLayout.pinForPasses(
      df.select(keys.map(col) :+ value.as("__x"): _*)
        .where(col("__x").isNotNull))
    try {
      val med = exactPercentileByKey(vals, keys, col("__x"), 50)
        .select(keys.map(col) :+ col("value").as("median"): _*)
      val dev = vals.join(med, keys) // right side is group-sized
        .withColumn("__dev", abs(col("__x") - col("median")))
      val mad = exactPercentileByKey(
          dev.select(keys.map(col) :+ col("__dev"): _*), keys, col("__dev"), 50)
        .select(keys.map(col) :+ col("value").as("mad"): _*)
      med.join(mad, keys) // both sides are local relations
    } finally release()
  }

  /** Stand up the continuous MAD monitor's store from a profile
    * ([[madProfile]] output, or any (keys..., median, mad) frame):
    * per-group bounds plus zeroed flag counters, SwapStore-persisted —
    * q132's standing-baseline posture for the robust outlier screen.
    */
  def initMadMonitor(profile: DataFrame, path: String): Unit =
    graft.core.SwapStore.init(
      profile.withColumn("n_seen", lit(0L)).withColumn("n_flagged", lit(0L)),
      path)

  /** One micro-batch against the standing bounds: count the batch's
    * rows (and its |x − median| > k·MAD flags) per group into the
    * store's counters. The store is group-count-sized and BROADCASTS
    * onto the batch scan — per-trigger work is batch-sized, one partial
    * aggregate, no corpus shuffle. Rows whose group has no profile are
    * not monitored (inner join; screen the reference corpus's key
    * coverage beforehand — a drifting KEY set is [[graft.ops.Checks]]'
    * drift monitor's job, this one screens VALUES).
    */
  private[graft] def foldMadMonitor(cur: DataFrame, batch: DataFrame,
                                    keys: Seq[String], value: Column,
                                    k: Double): DataFrame = {
    val delta = batch.select(keys.map(col) :+ value.as("__x"): _*)
      .where(col("__x").isNotNull)
      .join(broadcast(cur.select(keys.map(col) :+ col("median") :+ col("mad"): _*)),
        keys)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__dn"),
        sum(when(abs(col("__x") - col("median")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("__df"))
    cur.join(broadcast(delta), keys, "left")
      .select(keys.map(col) ++ Seq(col("median"), col("mad"),
        (col("n_seen") + coalesce(col("__dn"), lit(0L))).as("n_seen"),
        (col("n_flagged") + coalesce(col("__df"), lit(0L))).as("n_flagged")): _*)
  }

  /** Continuous robust outlier monitor — the streaming twin of
    * [[madOutliers]]: arriving micro-batches are flagged against the
    * STANDING per-group (median, MAD) bounds ([[initMadMonitor]]) and
    * the per-group counters fold under the SwapStore ledger
    * (exactly-once; re-delivered batches no-op). The profile stays
    * fixed between rebuilds — the point of a robust screen: bounds
    * from vetted reference data, never dragged along by the very
    * drift being hunted. Rebuild the profile on your cadence with
    * [[madProfile]] + [[initMadMonitor]] between queries. Counters are
    * order-insensitive (pure sums), so no ordered-delivery contract.
    */
  def madMonitorStream(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame, keys: Seq[String], value: Column,
                       path: String, k: Double = 3.0,
                       checkpoint: Option[String] = None,
                       ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(k >= 0, s"madMonitorStream: k must be non-negative, got $k")
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(cur =>
        foldMadMonitor(cur, batch, keys, value, k))
    }
  }

  /** The monitor's current state: (keys..., median, mad, n_seen,
    * n_flagged).
    */
  def readMadMonitor(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)
}
