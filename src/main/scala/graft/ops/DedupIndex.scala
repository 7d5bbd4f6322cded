package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted MinHash-LSH signature index + incremental near-dup checking —
  * the continuous-ingestion flow for a growing training corpus: build the
  * index over the existing corpus once, then screen each incoming batch or
  * stream of new documents against it without rescanning corpus text
  * (north-star extension; the reference's only dedup is the keyed-process
  * example, examples/stateful_deduplication.py:18-49).
  *
  * Layout at `path`:
  *   `bands/`    — (band, bucket, id): the LSH candidate-lookup table
  *   `shingles/` — (id, sh): shingle sets for exact-Jaccard verification
  *
  * `screenStream` runs [[check]] per micro-batch via foreachBatch (its
  * two equi-joins — candidate lookup on (band, bucket), then shingle
  * fetch by id — are narrow on the batch side); the static sides are
  * ordinary parquet scans re-read per batch, so rebuilding the
  * index is picked up without restarting the query. At 100 TB the bands
  * table is (band, bucket, id) triples only — far smaller than the
  * corpus — and the shingle fetch joins only candidate ids.
  */
object DedupIndex {

  /** Write the signature index for a corpus. Parameters must match the
    * ones used at check time (they define the banding scheme).
    *
    * The corpus TEXT is scanned exactly once: the shingle pass writes
    * `shingles/` first, and `bands/` is then derived from the written
    * parquet — (id, shingle-set) rows, far smaller than the raw text — so
    * at 100 TB the build costs one corpus pass plus one pass over the
    * signature frame (asserted by scan-count in DedupIndexSpec).
    */
  def build(df: DataFrame, id: Column, text: Column, path: String,
            shingleN: Int = 3, numHashes: Int = 32,
            bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
    df.select(id.as("id"), Dedup.shingles(text, shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .write.mode("overwrite").parquet(s"$path/shingles")
    bandsOf(SwapStore.readParquet(df.sparkSession, s"$path/shingles"), numHashes, bands, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** Admit new documents into the index (screen first with [[check]] if
    * duplicates should be rejected rather than admitted). The increment is
    * scanned twice (shingles, then bands) — bounded by the batch, not the
    * corpus; the standing index is never rewritten, only appended to.
    */
  def append(newDocs: DataFrame, id: Column, text: Column, path: String,
             shingleN: Int = 3, numHashes: Int = 32,
             bands: Int = 8, rowsPerBand: Int = 4): Unit = {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
    // pin the batch once (localCheckpoint): a nondeterministic input —
    // rand()-sampled, monotonically_increasing_id'd, or a shuffle
    // re-evaluated after executor loss — must not yield different rows to
    // the shingles and bands writes, or the index halves disagree and
    // candidate ids resolve to missing shingle sets (silently missed dups)
    val sh = newDocs.select(id.as("id"), Dedup.shingles(text, shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    sh.write.mode("append").parquet(s"$path/shingles")
    bandsOf(sh, numHashes, bands, rowsPerBand)
      .write.mode("append").parquet(s"$path/bands")
  }

  /** Compact the index: each [[append]] leaves a handful of small parquet
    * files per table, and under continuous ingestion the file count — and
    * with it open/footer overhead on every candidate lookup — grows
    * without bound. Rewrites both tables coalesced to `filesPerTable`
    * output files (a narrow many-files-in/few-files-out read, no shuffle)
    * into a sibling `<path>.compact` directory, then swaps with the same
    * crash-safe double rename as [[IvfIndex.rebuild]]: old → `<path>.old`,
    * new → `<path>`, drop old — at every step either the old or the new
    * index is addressable. Contents are row-identical, so `pairs`/`check`
    * results are unchanged (DedupIndexSpec).
    */
  def compact(spark: SparkSession, path: String, filesPerTable: Int = 8): Unit = {
    require(filesPerTable > 0, "filesPerTable must be positive")
    val tmp = s"$path.compact"
    SwapStore.readParquet(spark, s"$path/shingles").coalesce(filesPerTable)
      .write.mode("overwrite").parquet(s"$tmp/shingles")
    SwapStore.readParquet(spark, s"$path/bands").coalesce(filesPerTable)
      .write.mode("overwrite").parquet(s"$tmp/bands")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Remove documents from the index (takedown / right-to-be-forgotten):
    * rewrites both tables without the given ids — index-sized work, no
    * corpus re-read — through the same crash-safe swap as [[compact]].
    * The removal set is broadcast (takedown batches are small); after
    * the swap, removed ids appear in no candidate pair and no check
    * result. Same quiesce/retry contract as every swap
    * ([[SwapStore.swapDirs]]).
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame, idCol: Column): Unit = {
    val tmp = s"$path.remove"
    val rm = ids.select(idCol.as("id"))
    SwapStore.readParquet(spark, s"$path/shingles")
      .join(broadcast(rm), Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/shingles")
    SwapStore.readParquet(spark, s"$path/bands")
      .join(broadcast(rm), Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/bands")
    SwapStore.swapDirs(spark, path, tmp)
  }

  private def bandsOf(sh: DataFrame, numHashes: Int,
                      bands: Int, rowsPerBand: Int): DataFrame =
    sh.select(col("id"),
        explode(Dedup.lshBands(Dedup.minhashSignature(col("sh"), numHashes), bands, rowsPerBand)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"), col("id"))

  /** Near-duplicate pairs WITHIN the indexed corpus — the q37/minhashLsh
    * shape, but computed entirely from the standing index: candidates from
    * a self-join of the stored `bands/` triples, exact-Jaccard verify from
    * the stored `shingles/`. Corpus text is never touched and signatures
    * are never recomputed, so repeated runs (e.g. after each [[append]])
    * cost only the candidate join plus a shingle fetch for the (rare)
    * candidates. The banding scheme is frozen at build time, so unlike
    * [[Dedup.minhashLsh]] only the verify threshold is a parameter here.
    */
  def pairs(spark: SparkSession, path: String, threshold: Double = 0.5): DataFrame =
    Banding.verifyPairs(
      Banding.candidatePairs(SwapStore.readParquet(spark, s"$path/bands")),
      SwapStore.readParquet(spark, s"$path/shingles").select(col("id"), col("sh").as("p")),
      Dedup.jaccard, "jaccard", threshold)

  /** Cross-corpus near-dup pairs between TWO standing indexes — the
    * [[Dedup.minhashLshJoin]] shape with zero text re-reads: candidates
    * from an A×B join of the stored `bands/` triples, exact-Jaccard
    * verify from each side's stored `shingles/`. Both indexes must have
    * been built with the same banding scheme (same shingleN/numHashes/
    * bands/rowsPerBand — the signature hashing is deterministic, so equal
    * schemes band identically); mismatched schemes produce garbage
    * buckets, not an error, so keep build params with the index paths.
    */
  def crossPairs(spark: SparkSession, pathA: String, pathB: String,
                 threshold: Double = 0.5): DataFrame =
    Banding.verifyPairsAcross(
      Banding.candidatePairsAcross(
        SwapStore.readParquet(spark, s"$pathA/bands"),
        SwapStore.readParquet(spark, s"$pathB/bands")),
      SwapStore.readParquet(spark, s"$pathA/shingles").select(col("id"), col("sh").as("p")),
      SwapStore.readParquet(spark, s"$pathB/shingles").select(col("id"), col("sh").as("p")),
      Dedup.jaccard, "jaccard", threshold)

  /** Screen a batch of new documents against the index: returns
    * (new_id, dup_id, jaccard) for every indexed document whose Jaccard
    * similarity with a new document is >= threshold. For continuous
    * ingestion use [[screenStream]], which runs this per micro-batch.
    */
  def check(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
            path: String, threshold: Double = 0.5,
            shingleN: Int = 3, numHashes: Int = 32,
            bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    checkImpl(
      SwapStore.readParquet(spark, s"$path/bands"),
      SwapStore.readParquet(spark, s"$path/shingles"),
      newDocs, id, text, threshold, shingleN, numHashes, bands, rowsPerBand)

  private def checkImpl(bandsTable: DataFrame, shinglesTable: DataFrame,
                        newDocs: DataFrame, id: Column, text: Column,
                        threshold: Double, shingleN: Int, numHashes: Int,
                        bands: Int, rowsPerBand: Int): DataFrame = {
    val indexBands = bandsTable
      .select(col("band"), col("bucket"), col("id").as("dup_id"))
    val indexShingles = shinglesTable
      .select(col("id").as("dup_id"), col("sh").as("sh_dup"))
    // stream side: one pass computes shingles + banded buckets, carrying
    // the (small) shingle set through so no second pass over new text
    val fresh = newDocs.select(id.as("new_id"), Dedup.shingles(text, shingleN).as("sh_new"))
      .where(size(col("sh_new")) > 0)
      .select(col("new_id"), col("sh_new"),
        explode(Dedup.lshBands(Dedup.minhashSignature(col("sh_new"), numHashes), bands, rowsPerBand)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("new_id"), col("sh_new"))
    fresh.join(indexBands, Seq("band", "bucket"))            // candidate lookup
      .select(col("new_id"), col("dup_id"), col("sh_new"))
      .dropDuplicates("new_id", "dup_id")                    // band-collision dedup
      .join(indexShingles, Seq("dup_id"))                    // shingle fetch
      .select(col("new_id"), col("dup_id"),
        Dedup.jaccard(col("sh_new"), col("sh_dup")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Bucketed-table form of the index: `<base>_bands` bucketed on the
    * (band, bucket) join tuple and `<base>_shingles` bucketed on id, so
    * [[checkBucketed]]'s two stored-side joins read pre-shuffled storage —
    * per screening batch only batch-sized data exchanges, and the stored
    * tables are NEVER reshuffled no matter how often batches arrive (the
    * [[SpanIndex.buildBucketed]] treatment; plan-asserted in
    * DedupIndexSpec). Corpus text is still scanned exactly once: shingles
    * write first, bands derive from the written table.
    *
    * The path form's directory swap does not apply to managed tables:
    * [[removeBucketed]]/[[compactBucketed]] rewrite through drop+recreate,
    * so quiesce screeners across maintenance (screeners retry the
    * missing-table window like every swap consumer).
    */
  def buildBucketed(df: DataFrame, id: Column, text: Column, base: String,
                    shingleN: Int = 3, numHashes: Int = 32,
                    bands: Int = 8, rowsPerBand: Int = 4,
                    buckets: Int = 64): Unit = {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
    val spark = df.sparkSession
    graft.sources.Bucketed.write(
      df.select(id.as("id"), Dedup.shingles(text, shingleN).as("sh"))
        .where(size(col("sh")) > 0),
      s"${base}_shingles", "id", buckets)
    graft.sources.Bucketed.write(
      bandsOf(spark.table(s"${base}_shingles"), numHashes, bands, rowsPerBand),
      s"${base}_bands", Seq("band", "bucket"), buckets)
  }

  /** Admit new documents into the bucketed index: appends land in the
    * same bucket layout (Spark enforces the matching spec), so
    * [[checkBucketed]] stays exchange-free on the stored side. Each
    * append adds a file per bucket — [[compactBucketed]] when counts grow.
    */
  def appendBucketed(newDocs: DataFrame, id: Column, text: Column, base: String,
                     shingleN: Int = 3, numHashes: Int = 32,
                     bands: Int = 8, rowsPerBand: Int = 4,
                     buckets: Int = 64): Unit = {
    require(bands * rowsPerBand == numHashes, "bands*rowsPerBand must equal numHashes")
    // same pin rationale as [[append]]: both table writes must see the
    // identical batch rows
    val sh = newDocs.select(id.as("id"), Dedup.shingles(text, shingleN).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    sh.write.mode("append").bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${base}_shingles")
    bandsOf(sh, numHashes, bands, rowsPerBand)
      .write.mode("append").bucketBy(buckets, "band", "bucket")
      .sortBy("band", "bucket")
      .format("parquet").saveAsTable(s"${base}_bands")
  }

  /** [[check]] against the bucketed tables: identical results, stored
    * side never shuffles.
    */
  def checkBucketed(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
                    base: String, threshold: Double = 0.5,
                    shingleN: Int = 3, numHashes: Int = 32,
                    bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    checkImpl(spark.table(s"${base}_bands"), spark.table(s"${base}_shingles"),
      newDocs, id, text, threshold, shingleN, numHashes, bands, rowsPerBand)

  /** Takedown for the bucketed form: rewrite both tables without the
    * given ids, preserving the bucket layout. Index-sized work, like the
    * path form's [[remove]], and never materialized driver/executor-side:
    * survivors stream into sibling `_tmp` tables (reading the live ones),
    * which then take the live names via drop + rename — the brief
    * missing-table window is the same quiesce/retry contract as every
    * swap.
    */
  def removeBucketed(spark: SparkSession, base: String, ids: DataFrame,
                     idCol: Column, buckets: Int = 64): Unit = {
    val rm = ids.select(idCol.as("id"))
    def rewrite(table: String, bucketCols: Seq[String]): Unit = {
      graft.sources.Bucketed.write(
        spark.table(table).join(broadcast(rm), Seq("id"), "left_anti"),
        s"${table}_tmp", bucketCols, buckets)
      spark.sql(s"DROP TABLE `$table`")
      spark.sql(s"ALTER TABLE `${table}_tmp` RENAME TO `$table`")
    }
    rewrite(s"${base}_shingles", Seq("id"))
    rewrite(s"${base}_bands", Seq("band", "bucket"))
  }

  /** Compact the bucketed tables (appends add a file per bucket per
    * batch): rewrite each through a `_tmp` sibling and rename — contents
    * row-identical, bucket layout preserved, file count reset.
    */
  def compactBucketed(spark: SparkSession, base: String, buckets: Int = 64): Unit = {
    def rewrite(table: String, bucketCols: Seq[String]): Unit = {
      graft.sources.Bucketed.write(spark.table(table), s"${table}_tmp",
        bucketCols, buckets)
      spark.sql(s"DROP TABLE `$table`")
      spark.sql(s"ALTER TABLE `${table}_tmp` RENAME TO `$table`")
    }
    rewrite(s"${base}_shingles", Seq("id"))
    rewrite(s"${base}_bands", Seq("band", "bucket"))
  }

  /** Continuous-ingestion screening: run [[check]] over each micro-batch
    * of a streaming document source and hand the verified pairs to
    * `onBatch` (write to a sink, quarantine, metrics…). Per batch —
    * not a stream-static join end-to-end — because candidate dedup
    * inside one batch is a plain batch `dropDuplicates`; done in the
    * streaming plan it would accumulate unbounded state. The static
    * index is re-read per batch, so appends/compactions/rebuilds are
    * picked up across batches; a batch straddling a swap retries
    * ([[SwapStore.readerStream]]), so `onBatch` must be idempotent.
    */
  def screenStream(spark: SparkSession, stream: DataFrame, id: Column, text: Column,
                   path: String, threshold: Double = 0.5,
                   shingleN: Int = 3, numHashes: Int = 32,
                   bands: Int = 8, rowsPerBand: Int = 4)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(stream) { batch =>
      onBatch(check(spark, batch, id, text, path, threshold,
        shingleN, numHashes, bands, rowsPerBand))
    }
}
