package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted DSIR importance model — the standing-state form of
  * [[Sampling.importanceWeights]] (the selection member of the
  * standing-index family: [[DedupIndex]], [[SpanIndex]], [[IvfIndex]],
  * [[KMeansIndex]]): featurize the target domain and the raw corpus
  * ONCE into bucket-count tables, then score any batch or stream of
  * incoming documents against the frozen model without revisiting
  * either corpus — the admission-scoring shape of a continuously
  * ingesting pipeline (score each crawl batch against the trusted
  * domain, keep the lookalikes).
  *
  * Layout at `path`:
  *   `_tc/`   — target bucket counts (b, c): ≤ `buckets` rows
  *   `_rc/`   — raw bucket counts (b, c)
  *   `_meta/` — (buckets, nt, nr)
  * The whole model is buckets-bounded (thousands of rows) — it
  * broadcasts; build cost is one pass over each corpus.
  *
  * [[update]] folds a new raw batch's counts in (the raw distribution
  * drifts with the corpus; the target stays frozen) and [[remove]]
  * subtracts departed documents' counts — both EXACT, because bucket
  * counts are additive, so a model after any update/remove sequence is
  * bit-identical to a fresh build over the surviving corpus
  * (spec-asserted). Rewrites go through the crash-safe
  * [[SwapStore.swapDirs]] double rename like every index in the family.
  */
object DsirModel {

  /** Build the model: one featurize+count pass over each corpus. */
  def build(raw: DataFrame, target: DataFrame, id: Column, text: Column,
            path: String, buckets: Int = 4096): Unit = {
    require(buckets > 0 && buckets <= (1 << 20), "buckets must be in [1, 2^20]")
    val spark = raw.sparkSession
    Sampling.featureCounts(target, text, buckets)
      .write.mode("overwrite").parquet(s"$path/_tc")
    Sampling.featureCounts(raw, text, buckets)
      .write.mode("overwrite").parquet(s"$path/_rc")
    writeMeta(spark, path, buckets)
  }

  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit = {
    val nt = total(SwapStore.readParquet(spark, s"$path/_tc"))
    val nr = total(SwapStore.readParquet(spark, s"$path/_rc"))
    spark.range(1)
      .select(lit(buckets).as("buckets"), lit(nt).as("nt"), lit(nr).as("nr"))
      .write.mode("overwrite").parquet(s"$path/_meta")
  }

  private def total(counts: DataFrame): Long = {
    val r = counts.agg(coalesce(sum(col("c")), lit(0L))).head
    r.getLong(0)
  }

  private def meta(spark: SparkSession, path: String): (Int, Long, Long) = {
    val m = SwapStore.readParquet(spark, s"$path/_meta")
      .select(col("buckets"), col("nt"), col("nr")).head
    (m.getInt(0), m.getLong(1), m.getLong(2))
  }

  /** Score documents against the stored model: identical arithmetic to
    * [[Sampling.importanceWeights]], but neither corpus is touched —
    * the two bounded count tables broadcast and the scan is one
    * codegen'd pass over the batch. Output: (id, n_feats, weight_bits).
    */
  def score(spark: SparkSession, df: DataFrame, id: Column, text: Column,
            path: String): DataFrame = {
    val (buckets, nt, nr) = meta(spark, path)
    Sampling.scoreAgainst(df, id, text, buckets,
      SwapStore.readParquet(spark, s"$path/_tc"), SwapStore.readParquet(spark, s"$path/_rc"),
      nt, nr)
  }

  /** Continuous admission scoring: [[score]] per micro-batch. The model
    * is re-read each batch, so an [[update]]/[[remove]] swap is picked
    * up across batches; the swap's missing-path window retries like
    * every index consumer ([[SwapStore.retryingStaleReads]]).
    */
  def scoreStream(spark: SparkSession, stream: DataFrame, id: Column, text: Column,
                  path: String)
                 (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(stream)(batch => onBatch(score(spark, batch, id, text, path)))

  /** Admit a raw batch into the model: fold its bucket counts into
    * `_rc` (batch-sized work — counts are additive, so the result is
    * bit-identical to a fresh build over the grown corpus). The target
    * side is frozen by design; rebuild to change domains.
    */
  def update(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
             path: String): Unit =
    foldRaw(spark, newDocs, text, path, sign = 1L)

  /** Takedown: subtract removed documents' feature counts from `_rc` —
    * exact, because counts are additive; re-removing already-absent
    * docs would go negative, so counts clamp at zero with the removal
    * made idempotent by the caller keeping removals disjoint (the same
    * contract as the family's id-based removes). Pass the documents
    * themselves (their text re-featurizes identically — deterministic
    * hashing, same contract as [[KMeansIndex.remove]]'s recorded
    * assignments but recomputable here because featurization is
    * stateless).
    */
  def remove(spark: SparkSession, docs: DataFrame, id: Column, text: Column,
             path: String): Unit =
    foldRaw(spark, docs, text, path, sign = -1L)

  private def foldRaw(spark: SparkSession, docs: DataFrame, text: Column,
                      path: String, sign: Long): Unit = {
    val (buckets, _, _) = meta(spark, path)
    val delta = Sampling.featureCounts(docs, text, buckets)
      .select(col("b"), (col("c") * sign).as("c"))
    val tmp = s"$path.fold"
    SwapStore.readParquet(spark, s"$path/_rc")
      .unionByName(delta)
      .groupBy(col("b"))
      .agg(greatest(sum(col("c")), lit(0L)).as("c"))
      .where(col("c") > 0)
      .write.mode("overwrite").parquet(s"$tmp/_rc")
    SwapStore.readParquet(spark, s"$path/_tc").write.mode("overwrite").parquet(s"$tmp/_tc")
    val nt = total(SwapStore.readParquet(spark, s"$tmp/_tc"))
    val nr = total(SwapStore.readParquet(spark, s"$tmp/_rc"))
    spark.range(1)
      .select(lit(buckets).as("buckets"), lit(nt).as("nt"), lit(nr).as("nr"))
      .write.mode("overwrite").parquet(s"$tmp/_meta")
    SwapStore.swapDirs(spark, path, tmp)
  }
}
