package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted hyperplane-LSH index for embedding near-duplicates — the
  * standing-index counterpart of [[Similarity.cosineNearDupPairs]], as
  * [[DedupIndex]] is to [[Dedup.minhashLsh]] (north-star extension; the
  * reference has no embedding operators at all).
  *
  * Layout at `path`:
  *   `bands/` — (band, bucket, id): banded multi-table hyperplane buckets
  *   `vecs/`  — (id, v): the vectors, for exact-cosine verification
  *
  * Build scans the corpus vectors once (`vecs/` is written first, `bands/`
  * derives from the written parquet); [[pairs]] and [[check]] then run
  * entirely off the index — repeated screening of incoming batches never
  * re-reads or re-hashes the corpus. Banding parameters are frozen at
  * build time and must match at check time (they define the bucket space;
  * same contract as [[DedupIndex]]).
  */
object CosineIndex {

  /** Write the index: vectors + banded hyperplane buckets, one corpus scan. */
  def build(df: DataFrame, id: Column, vec: Column, path: String,
            bands: Int = 8, rowsPerBand: Int = 16): Unit = {
    df.select(id.as("id"), vec.as("v"))
      .write.mode("overwrite").parquet(s"$path/vecs")
    bandsOf(SwapStore.readParquet(df.sparkSession, s"$path/vecs"), bands, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Admit new vectors (screen first with [[check]] to reject dups). The
    * batch is pinned with localCheckpoint so a nondeterministic input
    * cannot yield different rows to the vecs and bands writes (which
    * would leave candidate ids without stored vectors — silently missed
    * duplicates).
    */
  def append(newVecs: DataFrame, id: Column, vec: Column, path: String,
             bands: Int = 8, rowsPerBand: Int = 16): Unit = {
    val v = newVecs.select(id.as("id"), vec.as("v")).localCheckpoint()
    v.write.mode("append").parquet(s"$path/vecs")
    bandsOf(v, bands, rowsPerBand).write.mode("append").parquet(s"$path/bands")
  }

  /** Banded multi-table signature: table t hashes with its own seed-t
    * hyperplane set — identical scheme (and seeds) to
    * [[Similarity.cosineNearDupPairs]], so index-backed results match the
    * direct operator's exactly.
    */
  /** Remove vectors from the index (takedown) — the
    * [[DedupIndex.remove]] analogue: both tables rewritten without the
    * given ids (broadcast anti join, index-sized work), crash-safe swap.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame, idCol: Column): Unit = {
    val tmp = s"$path.remove"
    val rm = ids.select(idCol.as("id"))
    SwapStore.readParquet(spark, s"$path/vecs")
      .join(org.apache.spark.sql.functions.broadcast(rm), Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/vecs")
    SwapStore.readParquet(spark, s"$path/bands")
      .join(org.apache.spark.sql.functions.broadcast(rm), Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/bands")
    SwapStore.swapDirs(spark, path, tmp)
  }

  private def bandStructs(v: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { t =>
      struct(lit(t).as("band"),
        graft.functions.Kernels.hyperplane_signature(v, rowsPerBand, seed = t).as("bucket"))
    }: _*)

  private def bandsOf(v: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    v.select(col("id"), explode(bandStructs(col("v"), bands, rowsPerBand)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"), col("id"))

  /** Near-dup pairs WITHIN the indexed corpus: candidates from a self-join
    * of stored buckets, exact-cosine verify from stored vectors fetched
    * behind a broadcast semi-filter — candidates only, the corpus is never
    * shuffled (same scale shape as the direct operator, minus its
    * hash/re-scan work).
    */
  def pairs(spark: SparkSession, path: String, threshold: Double = 0.95): DataFrame =
    Banding.verifyPairs(
      Banding.candidatePairs(SwapStore.readParquet(spark, s"$path/bands")),
      SwapStore.readParquet(spark, s"$path/vecs").select(col("id"), col("v").as("p")),
      Similarity.cosine, "cos", threshold)

  /** Screen a batch of new vectors against the index: (new_id, dup_id, cos)
    * for every indexed vector whose cosine with a new one is >= threshold.
    * The batch is hashed with the index's banding parameters, candidates
    * come from an equi-join on (band, bucket), and the new vector rides
    * along so only the dup side's vectors are fetched.
    */
  def check(spark: SparkSession, newVecs: DataFrame, id: Column, vec: Column,
            path: String, threshold: Double = 0.95,
            bands: Int = 8, rowsPerBand: Int = 16): DataFrame = {
    val indexBands = SwapStore.readParquet(spark, s"$path/bands")
      .select(col("band"), col("bucket"), col("id").as("dup_id"))
    // one pass over the batch: band and carry the vector, no self-join
    val fresh = newVecs.select(id.as("new_id"), vec.as("nv"))
      .select(col("new_id"), col("nv"),
        explode(bandStructs(col("nv"), bands, rowsPerBand)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("new_id"), col("nv"))
    val cand = fresh.join(indexBands, Seq("band", "bucket"))
      .select(col("new_id"), col("dup_id"), col("nv"))
      .dropDuplicates("new_id", "dup_id")
    val candVec = SwapStore.readParquet(spark, s"$path/vecs")
      .select(col("id").as("dup_id"), col("v").as("dv"))
    cand.join(candVec, Seq("dup_id"))
      .select(col("new_id"), col("dup_id"),
        Similarity.cosine(col("nv"), col("dv")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Continuous embedding near-dup screening: [[check]] per micro-batch
    * — the vector twin of [[DedupIndex.screenStream]] (MinHash) and the
    * admission-control shape for an embedding-deduped corpus: screen a
    * batch, [[append]] the admitted vectors, repeat. The index is
    * re-read each batch, so appends/removes land across batches; a batch
    * straddling a swap retries ([[SwapStore.readerStream]]), so `onBatch`
    * must be idempotent. Scale shape per batch: batch-sized banding, (band,
    * bucket) equi-join against the stored bands, only candidate dup
    * vectors fetched — the corpus-sized vec table never exchanges.
    */
  def screenStream(spark: SparkSession, stream: DataFrame, id: Column, vec: Column,
                   path: String, threshold: Double = 0.95,
                   bands: Int = 8, rowsPerBand: Int = 16)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(stream)(batch =>
      onBatch(check(spark, batch, id, vec, path, threshold, bands, rowsPerBand)))
}
