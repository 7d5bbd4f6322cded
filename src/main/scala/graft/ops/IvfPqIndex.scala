package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted residual IVF-PQ index — the standing-index form of
  * [[Similarity.ivfPqResidualTopK]], completing the ANN index family:
  * [[IvfIndex]] stores raw vectors per cell; this stores m small PQ codes
  * per vector (~32× smaller at the default 8×16-over-64 geometry), the
  * shape that keeps a 100 TB embedding corpus queryable from a fraction
  * of the storage.
  *
  * Layout at `path`:
  *   cell-partitioned parquet of (cand_id, codes)  — the compressed data
  *   `_centroids/` — the coarse centroid array row ([[IvfIndex]]'s)
  *   `_codebook/`  — the residual PQ codebook row + (m, dim) metadata
  *
  * `query` probes each query's nProbe nearest cells and joins on the
  * PARTITION column, so dynamic partition pruning reads only the probed
  * cells' code files; scoring is residual ADC against the broadcast
  * codebook — each scanned candidate costs m code lookups, never a
  * vector read. Geometry (nCells, m, ksub) is frozen at build time and
  * recorded in the index; results equal the one-shot
  * [[Similarity.ivfPqResidualTopK]] with the same parameters because
  * every stage is shared code.
  */
object IvfPqIndex {

  /** Build the index: coarse-assign, residual-encode, write codes
    * partitioned by cell plus the two broadcastable sidecar tables.
    */
  def build(corpus: DataFrame, id: Column, vec: Column,
            nCells: Int, path: String, m: Int = 8, ksub: Int = 16): Unit = {
    val c = corpus.select(id.as("cand_id"),
      transform(vec, x => x.cast("double")).as("cv"))
    val dim = c.select(size(col("cv"))).head.getInt(0)
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    // the corpus-sized residual pass must execute exactly ONCE (the
    // encode+write). The codebook would naively force a second one — its
    // sample is the salted md5 top-ksub rows of the residual frame — but
    // sample membership depends only on ids, so the ksub winning rows are
    // fetched raw (narrow id top-k + broadcast join) and residual-encoded
    // as a ksub-row computation. `coarse` (one row, derived from a corpus
    // top-k scan) pins via localCheckpoint so its scan doesn't re-run per
    // consumer. Build total: 2 full-vector passes + 1 id-column pass —
    // and nothing corpus-sized is ever cached or shuffled.
    val coarse = Similarity.centroidArray(c, nCells).localCheckpoint()
    def residOf(rows: DataFrame): DataFrame =
      Similarity.assignCells(rows, coarse).crossJoin(broadcast(coarse))
        .select(col("cell"), col("cand_id"),
          zip_with(col("cv"), Similarity.centroidOf(col("cents"), col("cell")),
            (x, y) => x - y).as("cv"))
    val book = Similarity.centroidArraySalted(
      residOf(Similarity.saltedSampleRows(c, ksub, ":pq"))
        .select(col("cand_id"), col("cv")), ksub, ":pq").localCheckpoint()
    Similarity.pqCodes(residOf(c), "cv", book, m, dsub)
      .select(col("cell"), col("cand_id"), col("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    coarse.write.mode("overwrite").parquet(s"$path/_centroids")
    book.select(col("cents"), lit(m).as("m"), lit(dim).as("dim"))
      .write.mode("overwrite").parquet(s"$path/_codebook")
  }

  /** Incrementally add vectors: assign against the STORED centroids,
    * encode against the STORED codebook (both frozen — the standard IVF
    * maintenance tradeoff; re-[[build]] when the corpus drifts), append
    * to the assigned cells' partitions.
    */
  def append(spark: SparkSession, newVecs: DataFrame, id: Column, vec: Column,
             path: String): Unit = {
    val coarse = SwapStore.readParquet(spark, s"$path/_centroids")
    val bookRow = SwapStore.readParquet(spark, s"$path/_codebook")
    val meta = bookRow.select(col("m"), col("dim")).head
    val (m, dim) = (meta.getInt(0), meta.getInt(1))
    val c = newVecs.select(id.as("cand_id"),
      transform(vec, x => x.cast("double")).as("cv"))
    val resid = Similarity.assignCells(c, coarse).crossJoin(broadcast(coarse))
      .select(col("cell"), col("cand_id"),
        zip_with(col("cv"), Similarity.centroidOf(col("cents"), col("cell")),
          (x, y) => x - y).as("cv"))
    Similarity.pqCodes(resid, "cv", bookRow.select(col("cents")), m, dim / m)
      .select(col("cell"), col("cand_id"), col("codes"))
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /** Compact the accumulated append files: one output file per cell
    * (hash-repartition by the partition column), sidecars copied
    * unchanged, same crash-safe double-rename swap as the other standing
    * indexes. Row-identical, so queries are unchanged.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    val tmp = s"$path.compact"
    val cents = SwapStore.readParquet(spark, s"$path/_centroids")
    val book = SwapStore.readParquet(spark, s"$path/_codebook")
    spark.read.parquet(path).select(col("cand_id"), col("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$tmp/_centroids")
    book.coalesce(1).write.mode("overwrite").parquet(s"$tmp/_codebook")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Top-k over the compressed index for a (small, broadcastable) query
    * set: probed-cell partition join (dynamic partition pruning), residual
    * ADC against the broadcast codebook, k-bounded ranking exchange.
    * Returns (query_id, cand_id, rk).
    */
  def query(spark: SparkSession, path: String,
            queries: DataFrame, queryId: Column, queryVec: Column,
            k: Int, nProbe: Int = 4): DataFrame = {
    val coarse = SwapStore.readParquet(spark, s"$path/_centroids")
    val bookRow = SwapStore.readParquet(spark, s"$path/_codebook")
    val meta = bookRow.select(col("m"), col("dim")).head
    val (m, dim) = (meta.getInt(0), meta.getInt(1))
    val book = bookRow.select(col("cents"))
    val q = queries.select(queryId.as("query_id"),
      transform(queryVec, x => x.cast("double")).as("qv"))
    val qres = Similarity.probeCells(q, coarse, nProbe).crossJoin(broadcast(coarse))
      .select(col("cell"), col("query_id"),
        zip_with(col("qv"), Similarity.centroidOf(col("cents"), col("cell")),
          (x, y) => x - y).as("qv"))
    val scored = spark.read.parquet(path)
      .join(broadcast(qres), Seq("cell"))
      .where(col("query_id") =!= col("cand_id"))
      .crossJoin(broadcast(book))
      .select(col("query_id"), col("cand_id"),
        Similarity.adcDist(col("qv"), col("codes"), col("cents"), m, dim / m).as("adist"))
    Similarity.rankScored(
      scored.select(col("query_id"), col("cand_id"), (-col("adist")).as("cos")), k)
  }

  /** Continuous retrieval against the compressed index: [[query]] per
    * micro-batch — [[IvfIndex.searchStream]]'s twin for the ~32×-smaller
    * PQ-coded corpus (same contract: index swaps from [[append]]/
    * [[compact]] land across batches, the swap's missing-path window
    * retries, `onBatch` must be idempotent under replay). Per batch only
    * the probed cells' code files are read and only batch-sized frames
    * exchange.
    */
  def searchStream(spark: SparkSession, queryStream: DataFrame, queryId: Column,
                   queryVec: Column, path: String, k: Int, nProbe: Int = 4)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(queryStream)(batch =>
      onBatch(query(spark, path, batch, queryId, queryVec, k, nProbe)))
}
