package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted IVF index — the standing-index flow for repeated ANN query
  * batches over a large corpus (north-star extension; `Similarity.ivfTopK`
  * is the one-shot form and recomputes cell assignment per run).
  *
  * `build` assigns every corpus vector to its nearest centroid (narrow
  * broadcast argmax, zero corpus shuffle — see [[Similarity.assignCells]])
  * and writes the corpus `partitionBy("cell")`, with the centroid array
  * stored under `_centroids/` inside the index directory (underscore
  * prefix → invisible to the data reader). `query` probes each query's
  * nProbe nearest cells and joins on the PARTITION column, so dynamic
  * partition pruning reads only the probed cells' files — at 100 TB a
  * query batch touches ~nProbe/nCells of the index, verified by the
  * `dynamicpruning` filter in the scan (IvfIndexSpec).
  *
  * Size nCells so each cell is a few files (~√N cells is the usual IVF
  * rule); results are identical to `ivfTopK` with the same parameters
  * because centroid selection (md5 order) and assignment are shared code.
  */
object IvfIndex {

  /** Build the index at `path`: cell-partitioned vectors + centroids. */
  def build(corpus: DataFrame, id: Column, vec: Column,
            nCells: Int, path: String): Unit = {
    val c = corpus.select(id.as("cand_id"), vec.as("cv"))
    val centArr = Similarity.centroidArray(c, nCells)
    Similarity.assignCells(c, centArr)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    centArr.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Build the index from PRE-TRAINED centroids (the FAISS
    * `IndexIVF.train` flow): `cents` is a one-row (cell, centroid)
    * struct-array frame — [[KMeans.centroidsAsDouble]] over a fitted
    * model, typically — and replaces [[build]]'s raw md5 corpus sample.
    * Trained cells track data density, which is what keeps per-cell file
    * sizes balanced and probe recall stable on clustered corpora; the
    * rest of the index contract (layout, `query`, `append`, `compact`)
    * is identical because the stored `_centroids` row is the same shape.
    */
  def buildTrained(corpus: DataFrame, id: Column, vec: Column,
                   cents: DataFrame, path: String): Unit = {
    val c = corpus.select(id.as("cand_id"), vec.as("cv"))
    Similarity.assignCells(c, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Incrementally add vectors to an existing index: assign against the
    * STORED centroids (same narrow broadcast argmax) and append to the
    * assigned cells' partitions. Centroids are not re-sampled — cell
    * balance degrades slowly as the corpus drifts; rebuild when a cell
    * grows pathological (the standard IVF maintenance tradeoff).
    */
  def append(spark: SparkSession, newVecs: DataFrame, id: Column, vec: Column,
             path: String): Unit = {
    val centArr = SwapStore.readParquet(spark, s"$path/_centroids")
    val c = newVecs.select(id.as("cand_id"), vec.as("cv"))
    Similarity.assignCells(c, centArr)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Rows per cell — the index-health histogram. Only the partition
    * column is projected, so the scan reads no vector data; with
    * `spark.sql.parquet.aggregatePushdown=true` the counts come straight
    * from parquet footers. Cells absent from the output are empty.
    */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).groupBy("cell").agg(count(lit(1)).as("n"))

  /** Number of cells the index was built with (size of the stored
    * centroid array — includes cells that are currently empty).
    */
  def numCells(spark: SparkSession, path: String): Int =
    SwapStore.readParquet(spark, s"$path/_centroids")
      .select(size(col("cents"))).head.getInt(0)

  /** True when the fullest cell holds more than `skewFactor` times the
    * balanced share (corpus / nCells — empty cells count toward the
    * denominator). [[append]] assigns against frozen centroids, so drift
    * in the incoming distribution shows up here; a pathological cell
    * defeats the point of IVF (probing it rescans a corpus-sized bucket).
    * Run this after appends and [[rebuild]] when it fires.
    */
  def needsRebuild(spark: SparkSession, path: String,
                   skewFactor: Double = 4.0): Boolean = {
    val r = cellStats(spark, path)
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head
    val balancedShare = r.getLong(1).toDouble / numCells(spark, path)
    r.getLong(0) > skewFactor * balancedShare
  }

  /** Remove vectors from the index (takedown): rewrite the cell
    * partitions without the given ids — index-sized work, removal set
    * broadcast, centroids preserved (assignments of the survivors are
    * unchanged), crash-safe swap. Run [[needsRebuild]]/[[compact]] on
    * the usual maintenance cadence afterwards.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame, idCol: Column): Unit = {
    val tmp = s"$path.remove"
    val cents = SwapStore.readParquet(spark, s"$path/_centroids")
    spark.read.parquet(path).select(col("cand_id"), col("cv"), col("cell"))
      .join(broadcast(ids.select(idCol.as("cand_id"))), Seq("cand_id"), "left_anti")
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$tmp/_centroids")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Re-sample centroids from the CURRENT corpus and rewrite the index.
    * Reads only (cand_id, cv) from the existing index and builds into a
    * sibling `<path>.rebuild` directory; the old index stays readable
    * until the new one is fully written. The swap keeps a recovery point
    * at every step: old → `<path>.old`, new → `<path>`, then drop the
    * old copy — a crash between renames leaves either the old or the new
    * index addressable (at `<path>` or `<path>.old`), never neither (the
    * prior delete-then-rename had a window where `<path>` was gone).
    * Deterministic: centroid selection is the md5 top-k over ids
    * ([[Similarity.centroidArray]]), so a rebuilt index is bit-identical
    * to a fresh [[build]] over the same vectors.
    */
  def rebuild(spark: SparkSession, path: String, nCells: Int = -1): Unit = {
    val cells = if (nCells > 0) nCells else numCells(spark, path)
    val vecs = spark.read.parquet(path).select(col("cand_id"), col("cv"))
    val tmp = s"$path.rebuild"
    build(vecs, col("cand_id"), col("cv"), cells, tmp)
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Compact the index without re-sampling centroids: every [[append]]
    * adds a few small files to each touched cell partition, and under
    * continuous ingestion the per-cell file count — and with it open/
    * footer overhead on every probed read — grows without bound. The
    * rewrite hash-partitions by `cell`, so each cell lands in exactly one
    * task and therefore exactly ONE output file; centroids are copied
    * unchanged (assignments don't move, unlike [[rebuild]]). Same
    * crash-safe double-rename swap; results are row-identical
    * (IvfIndexSpec).
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val tmp = s"$path.compact"
    val cents = SwapStore.readParquet(spark, s"$path/_centroids")
    spark.read.parquet(path).select(col("cand_id"), col("cv"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$tmp/_centroids")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Top-k over the index for a (small, broadcastable) query set.
    * Returns (query_id, cand_id, rk) like the other ANN operators.
    */
  def query(spark: SparkSession, path: String,
            queries: DataFrame, queryId: Column, queryVec: Column,
            k: Int, nProbe: Int = 4): DataFrame = {
    val centArr = SwapStore.readParquet(spark, s"$path/_centroids")
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"))
    val probes = Similarity.probeCells(q, centArr, nProbe)
    val indexed = spark.read.parquet(path) // (cand_id, cv, cell=partition)
    // join on the partition column with a broadcast probe side: dynamic
    // partition pruning restricts the scan to the probed cells' files
    val scored = indexed.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        Similarity.cosine(col("qv"), col("cv")).as("cos"))
    Similarity.rankScored(scored, k)
  }

  /** Continuous ANN retrieval: [[query]] per micro-batch of embedding
    * queries — the vector twin of [[Bm25Index.searchStream]] (standing-
    * query routing, streaming dedup-by-retrieval, online recommendation
    * lookups). Each batch re-reads the index path, so an [[append]] /
    * [[remove]] / [[rebuild]] / [[compact]] swap is picked up across
    * batches; a batch straddling a swap retries ([[SwapStore.readerStream]]),
    * so `onBatch` must be idempotent. Scale shape per batch: probes
    * broadcast (batch-sized), DPP prunes the scan to probed cells' files
    * — the corpus-sized index never exchanges.
    */
  def searchStream(spark: SparkSession, queryStream: DataFrame, queryId: Column,
                   queryVec: Column, path: String, k: Int, nProbe: Int = 4)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(queryStream)(batch =>
      onBatch(query(spark, path, batch, queryId, queryVec, k, nProbe)))
}
