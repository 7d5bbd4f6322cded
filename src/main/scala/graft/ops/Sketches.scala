package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-partitioned distinct analytics — the 100 TB answer to
  * "how many distinct X in an arbitrary slice of the corpus, and how do
  * two slices overlap" without ever re-reading the events.
  *
  * The pattern: ONE pass over the corpus builds a standing table of
  * per-(group, bucket) theta sketches (Apache DataSketches, the
  * engine-native `theta_sketch_agg` family — buckets are typically
  * days). Every later question is answered from the sketch table alone:
  * distinct-over-range is a union of bucket sketches, overlap/churn
  * between two slices is sketch intersection/difference — set algebra
  * plain distinct counts cannot do at all (distinct counts don't
  * subtract: |A ∪ B| tells you nothing about |A ∩ B| without a re-scan).
  *
  * Exactness regime: a theta sketch stays in EXACT mode (theta = 1,
  * every 64-bit value hash retained) until it exceeds its nominal entry
  * count 2^lgK. While every participating sketch is exact, union /
  * intersection / difference are literal hash-set operations and the
  * estimates are exact counts (collisions: 64-bit hashes, ~n²/2⁶⁵ —
  * deterministic per dataset, asserted empirically in SketchesSpec and
  * guarded in-plan by the gate queries, the q44 convention). Beyond the
  * regime the same plans degrade gracefully to ±1.6% estimates
  * (lgK = 12 default bound) instead of failing — the behavior a
  * dashboard over 100 TB wants.
  *
  * Scale shape: the build is one partial-aggregated groupBy (sketches
  * combine map-side; the exchange carries (group, bucket)-sized sketch
  * payloads, never raw rows). Range/overlap queries read ONLY the
  * standing table — bucket-pruned by any pushable predicate — and
  * exchange group-count rows. Sketch size is bounded by min(distinct,
  * 2^lgK)·8 bytes.
  *
  * Reference capability: the GUI aggregate path re-counts distincts
  * from raw rows per query (`taskmanager/operators/files.py`); this is
  * the build-once / slice-many form.
  */
object Sketches {

  /** Largest theta nominal-entries exponent DataSketches accepts; the
    * query-side default, so a merge can never undercut (and so
    * downsample) what the buckets were built with.
    */
  val MaxLgK = 26

  /** Largest KLL k; same role for the quantile merges. */
  val MaxKllK = 65535

  /** The standing table: one theta sketch of `value` per (groups...,
    * bucket). `lgK` is the nominal-entries exponent — the exact-mode
    * capacity is 2^lgK distinct values per sketch.
    */
  def thetaBuckets(df: DataFrame, groups: Seq[Column], bucket: Column,
                   value: Column, lgK: Int = 20): DataFrame = {
    require(lgK >= 4 && lgK <= 26, s"thetaBuckets: lgK $lgK outside [4, 26]")
    df.groupBy((groups :+ bucket.as("bucket")): _*)
      .agg(theta_sketch_agg(value, lgK).as("sketch"))
  }

  /** Fold a new batch of raw rows into an existing bucket table —
    * sketch union is associative and idempotent-per-value, so the
    * result equals rebuilding over the combined input (SketchesSpec).
    * Work is new-batch-sized plus the (tiny) bucket table: the rows
    * already summarized are never revisited — the standing-index
    * append posture ([[graft.ops.DedupIndex]]) for distinct analytics.
    */
  def appendThetaBuckets(existing: DataFrame, df: DataFrame,
                         groups: Seq[Column], bucket: Column, value: Column,
                         lgK: Int = 20): DataFrame = {
    val fresh = thetaBuckets(df, groups, bucket, value, lgK)
    val groupNames = fresh.columns.dropRight(1).toSeq
    fresh
      .unionByName(existing.select(groupNames.map(col) :+ col("sketch"): _*))
      .groupBy(groupNames.map(col): _*)
      // union at the STORE's own lgK — the caller passes the build-time
      // bound explicitly here (unlike the query-side merges, which
      // cannot see it and default to MaxLgK): an estimate-mode store
      // (small lgK) must keep its sketches capped at 2^lgK, not grow
      // 8 B per distinct value forever
      .agg(theta_union_agg(col("sketch"), lgK).as("sketch"))
  }

  /** Distinct count per group over every bucket row passing `pred` —
    * a union of bucket sketches, zero corpus reads.
    */
  def distinctOver(buckets: DataFrame, groups: Seq[String], pred: Column,
                   out: String = "distinct_count", lgK: Int = MaxLgK): DataFrame = {
    // the union runs at the MAXIMUM nominal by default: a union whose
    // bound undercuts the bucket sketches' build-time lgK would
    // DOWNSAMPLE exact inputs into estimates with no error — and the
    // query side cannot see what lgK the buckets were built with. A
    // larger-than-needed union nominal costs nothing (union state grows
    // with retained entries, not with the bound).
    require(lgK >= 4 && lgK <= MaxLgK, s"distinctOver: lgK $lgK outside [4, $MaxLgK]")
    buckets.where(pred)
      .groupBy(groups.map(col): _*)
      .agg(theta_sketch_estimate(theta_union_agg(col("sketch"), lgK)).as(out))
  }

  /** Set algebra between two bucket slices per group: how many values
    * appear in both slices, only in A, only in B — plus each slice's
    * own distinct count. `only_a` is the churn count (present in A,
    * gone in B) when A and B are consecutive time ranges.
    *
    * One pass over the (tiny) bucket table: the two slice unions ride
    * the same aggregate via null-skipped conditional inputs, then the
    * intersection/difference are per-group scalar sketch ops. A group
    * whose rows all fall on ONE side leaves the other side's union
    * null (an aggregate over no inputs has no sketch) — the
    * set-algebra answers for that group are well-defined (empty set),
    * so the one-sided cases resolve explicitly to zeros / the present
    * side's own count instead of letting the null poison every
    * estimate downstream.
    */
  def overlapOver(buckets: DataFrame, groups: Seq[String],
                  predA: Column, predB: Column, lgK: Int = MaxLgK): DataFrame = {
    require(lgK >= 4 && lgK <= MaxLgK, s"overlapOver: lgK $lgK outside [4, $MaxLgK]")
    val estA = theta_sketch_estimate(col("__a"))
    val estB = theta_sketch_estimate(col("__b"))
    buckets.where(predA || predB)
      .groupBy(groups.map(col): _*)
      .agg(
        theta_union_agg(when(predA, col("sketch")), lgK).as("__a"),
        theta_union_agg(when(predB, col("sketch")), lgK).as("__b"))
      .select(groups.map(col) ++ Seq(
        when(col("__a").isNull || col("__b").isNull, lit(0L))
          .otherwise(theta_sketch_estimate(theta_intersection(col("__a"), col("__b"))))
          .as("in_both"),
        when(col("__a").isNull, lit(0L)).when(col("__b").isNull, estA)
          .otherwise(theta_sketch_estimate(theta_difference(col("__a"), col("__b"))))
          .as("only_a"),
        when(col("__b").isNull, lit(0L)).when(col("__a").isNull, estB)
          .otherwise(theta_sketch_estimate(theta_difference(col("__b"), col("__a"))))
          .as("only_b"),
        coalesce(estA, lit(0L)).as("a_total"),
        coalesce(estB, lit(0L)).as("b_total")): _*)
  }

  /** Persist a bucket table as a standing store ([[graft.core.SwapStore]]
    * layout: data + last-applied-batch ledger in one swap unit) — the
    * build side of the continuous [[ingestThetaStream]] lifecycle.
    */
  def initThetaStore(df: DataFrame, groups: Seq[Column], bucket: Column,
                     value: Column, path: String, lgK: Int = 20): Unit =
    graft.core.SwapStore.init(thetaBuckets(df, groups, bucket, value, lgK), path)

  /** The current standing bucket table under [[ingestThetaStream]] —
    * feed it to [[distinctOver]]/[[overlapOver]] as usual.
    */
  def readThetaStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** Continuous sketch ingestion: each arriving micro-batch folds into
    * the persisted bucket table via [[appendThetaBuckets]] — work per
    * trigger is batch-sized plus the (tiny) bucket table, the rows
    * already summarized are never revisited, and the SwapStore ledger
    * makes re-delivered batches no-ops (exactly-once under foreachBatch
    * redelivery — the q144 ingestion posture, here for distinct
    * analytics). Union is associative and idempotent-per-value, so the
    * grown store equals a one-shot build over everything delivered
    * regardless of slicing (SketchesSpec / q161).
    */
  def ingestThetaStream(spark: org.apache.spark.sql.SparkSession,
                        stream: DataFrame, groups: Seq[Column], bucket: Column,
                        value: Column, path: String, lgK: Int = 20,
                        checkpoint: Option[String] = None,
                        ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(
        appendThetaBuckets(_, batch, groups, bucket, value, lgK))
    }

  /** [[appendThetaBuckets]] for the quantile buckets: fold a new batch
    * into an existing KLL bucket table. Merging uncompacted sketches is
    * lossless (append == rebuild in the exact regime, SketchesSpec);
    * compacted merges compose the published rank-error bounds. `k` is
    * the STORE's build-time parameter — honored, not maxed, so an
    * estimate-mode store stays capped.
    */
  def appendKllBuckets(existing: DataFrame, df: DataFrame,
                       groups: Seq[Column], bucket: Column, value: Column,
                       k: Int = 4096): DataFrame = {
    val fresh = kllBuckets(df, groups, bucket, value, k)
    val groupNames = fresh.columns.dropRight(1).toSeq
    fresh
      .unionByName(existing.select(groupNames.map(col) :+ col("qsketch"): _*))
      .groupBy(groupNames.map(col): _*)
      .agg(kll_merge_agg_bigint(col("qsketch"), k).as("qsketch"))
  }

  /** [[appendThetaBuckets]] for the heavy-hitters buckets. Exact while
    * each bucket's item union keeps fitting `maxItems` (the q64
    * capacity regime).
    */
  def appendTopKBuckets(existing: DataFrame, df: DataFrame,
                        groups: Seq[Column], bucket: Column, item: Column,
                        maxItems: Int = 10000): DataFrame = {
    val fresh = topKBuckets(df, groups, bucket, item, maxItems)
    val groupNames = fresh.columns.dropRight(1).toSeq
    fresh
      .unionByName(existing.select(groupNames.map(col) :+ col("tksketch"): _*))
      .groupBy(groupNames.map(col): _*)
      .agg(expr(s"approx_top_k_combine(tksketch, $maxItems)").as("tksketch"))
  }

  /** [[initThetaStore]]/[[ingestThetaStream]] for the quantile buckets. */
  def initKllStore(df: DataFrame, groups: Seq[Column], bucket: Column,
                   value: Column, path: String, k: Int = 4096): Unit =
    graft.core.SwapStore.init(kllBuckets(df, groups, bucket, value, k), path)

  def ingestKllStream(spark: org.apache.spark.sql.SparkSession,
                      stream: DataFrame, groups: Seq[Column], bucket: Column,
                      value: Column, path: String, k: Int = 4096,
                      checkpoint: Option[String] = None,
                        ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(
        appendKllBuckets(_, batch, groups, bucket, value, k))
    }

  /** The current standing KLL bucket table — feed to [[quantilesOver]]. */
  def readKllStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** [[initThetaStore]]/[[ingestThetaStream]] for the heavy-hitters
    * buckets.
    */
  def initTopKStore(df: DataFrame, groups: Seq[Column], bucket: Column,
                    item: Column, path: String, maxItems: Int = 10000): Unit =
    graft.core.SwapStore.init(topKBuckets(df, groups, bucket, item, maxItems), path)

  def ingestTopKStream(spark: org.apache.spark.sql.SparkSession,
                       stream: DataFrame, groups: Seq[Column], bucket: Column,
                       item: Column, path: String, maxItems: Int = 10000,
                       checkpoint: Option[String] = None,
                        ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      graft.core.SwapStore.fold(spark, path, bid)(
        appendTopKBuckets(_, batch, groups, bucket, item, maxItems))
    }

  /** The current standing frequent-items table — feed to [[topKOver]]. */
  def readTopKStore(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    graft.core.SwapStore.read(spark, path)

  /** Continuous distinct counting — the streaming form of the theta
    * family: an update-mode running `theta_sketch_agg` per group whose
    * state is the sketch itself (bounded: ≤ 8·min(distinct, 2^lgK)
    * bytes per group, NOT per event — the reason a distinct-users
    * dashboard can run forever). Each trigger re-emits the groups that
    * changed with their new estimate; the estimate is monotone
    * nondecreasing per group, so the final value per group is the MAX
    * over the update log (ordering-free — the q123 running-agg
    * posture), and in the exact regime it equals the batch distinct
    * count over everything delivered (SketchesSpec parity).
    */
  def runningDistinct(stream: DataFrame, groups: Seq[Column], value: Column,
                      lgK: Int = 20): DataFrame = {
    require(lgK >= 4 && lgK <= 26, s"runningDistinct: lgK $lgK outside [4, 26]")
    stream.groupBy(groups: _*)
      .agg(theta_sketch_estimate(theta_sketch_agg(value, lgK))
        .as("distinct_count"))
  }

  /** The heavy-hitters twin of [[thetaBuckets]]: one frequent-items
    * sketch of `item` per (groups..., bucket) — `approx_top_k`'s
    * mergeable accumulate form. Exact while each sketch tracks every
    * distinct item (`maxItems` ≥ the bucket's distinct-item count — the
    * q64 capacity-over-vocab regime, which combine preserves when the
    * UNION of items still fits).
    */
  def topKBuckets(df: DataFrame, groups: Seq[Column], bucket: Column,
                  item: Column, maxItems: Int = 10000): DataFrame = {
    require(maxItems > 0, s"topKBuckets: maxItems must be positive")
    val prepared = df.select((groups :+ bucket.as("bucket")) :+ item.as("__item"): _*)
    val gNames = prepared.columns.dropRight(2).toSeq
    prepared.groupBy((gNames :+ "bucket").map(col): _*)
      .agg(expr(s"approx_top_k_accumulate(__item, $maxItems)").as("tksketch"))
  }

  /** Top-k items per group over every bucket row passing `pred`, by
    * combining bucket sketches — zero corpus re-reads. Output one row
    * per (group, item): `item`, `cnt`, and a deterministic `rk`
    * (count desc, item asc — ties break on the item itself, not sketch
    * internals).
    */
  def topKOver(buckets: DataFrame, groups: Seq[String], pred: Column,
               k: Int, maxItems: Int = 10000): DataFrame = {
    require(k > 0, "topKOver: k must be positive")
    import org.apache.spark.sql.expressions.Window
    buckets.where(pred)
      .groupBy(groups.map(col): _*)
      // estimate fetches EVERYTHING tracked, not k: the sketch's own
      // tie-break is insertion-order-dependent, so the deterministic
      // (count desc, item asc) rank below must see all candidates
      // before truncating to k (exact in the capacity regime)
      .agg(expr(s"approx_top_k_estimate(approx_top_k_combine(tksketch, $maxItems), $maxItems)")
        .as("__top"))
      .select(groups.map(col) :+ explode(col("__top")).as("__e"): _*)
      .select(groups.map(col) ++ Seq(col("__e.item").as("item"),
        col("__e.count").as("cnt")): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(groups.map(col): _*)
          .orderBy(col("cnt").desc, col("item").asc)))
      .where(col("rk") <= k)
  }

  /** The quantile twin of [[thetaBuckets]]: one KLL sketch of a BIGINT
    * `value` per (groups..., bucket). KLL sketches merge losslessly
    * while uncompacted — a sketch retains EVERY value until it holds
    * more than its capacity (> k in the level-0 buffer alone; `k`
    * values are always exact), so per-bucket sketches whose merged item
    * count stays within capacity answer range quantiles EXACTLY, and
    * degrade to the published ~1.65%-rank error beyond it instead of
    * failing.
    */
  def kllBuckets(df: DataFrame, groups: Seq[Column], bucket: Column,
                 value: Column, k: Int = 4096): DataFrame = {
    require(k >= 8 && k <= 65535, s"kllBuckets: k $k outside [8, 65535]")
    df.groupBy((groups :+ bucket.as("bucket")): _*)
      .agg(kll_sketch_agg_bigint(value.cast("long"), k).as("qsketch"))
  }

  /** Quantiles per group over every bucket row passing `pred`, by
    * merging bucket sketches — zero corpus re-reads. Quantile rank
    * semantics are INCLUSIVE (the DataSketches default): the result is
    * the smallest retained value whose cumulative weight fraction is
    * ≥ q — identical to SQL's `percentile_disc` / a `cume_dist() ≥ q`
    * replay while the merged sketch is exact. Output columns are
    * `p<q·100>` (e.g. p50, p99).
    */
  def quantilesOver(buckets: DataFrame, groups: Seq[String], pred: Column,
                    qs: Seq[Double], k: Int = MaxKllK): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantilesOver: ranks must be in (0, 1], got ${qs.mkString(",")}")
    // merge at MAX k by default — a merge target with a smaller k than
    // the bucket sketches would compact exact inputs silently (the
    // distinctOver rationale; a larger target preserves the inputs'
    // accuracy and costs only retained-item memory)
    require(k >= 8 && k <= MaxKllK, s"quantilesOver: k $k outside [8, $MaxKllK]")
    buckets.where(pred)
      .groupBy(groups.map(col): _*)
      .agg(kll_merge_agg_bigint(col("qsketch"), k).as("__m"))
      .select(groups.map(col) ++ qs.map(q =>
        kll_sketch_get_quantile_bigint(col("__m"), lit(q))
          .as(s"p${(q * 100).round}")): _*)
  }
}
