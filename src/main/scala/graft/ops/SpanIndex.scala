package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted substring-gram index + incremental span screening — the
  * continuous-ingestion form of [[SpanDedup]], completing the standing-
  * index family ([[DedupIndex]] for document near-dups, [[IvfIndex]] for
  * vectors, this for shared substrings): build once over the existing
  * corpus, then find which token spans of each incoming batch or stream
  * already exist verbatim in the corpus — without rescanning corpus text.
  *
  * Layout at `path`:
  *   `grams/` — (gram, id, pos): md5 fingerprint of every n-token window
  *   of the indexed corpus with its occurrence position.
  *
  * Scale posture: the gram table is fingerprint-width (48 bytes per token
  * window) regardless of gram length — the text itself is never stored or
  * shuffled. A check joins the batch's gram fingerprints against the
  * stored table on the gram key; under continuous ingestion, write the
  * index bucketed by `gram` (`bucketBy` on the writer at build time) to
  * make that a co-located join with no index-side shuffle. The gram
  * length `n` is frozen at build time (fingerprints of different n never
  * match — keep n with the index path, same contract as [[DedupIndex]]'s
  * banding scheme).
  */
object SpanIndex {

  /** Write the gram index for a corpus: one narrow text pass. */
  def build(df: DataFrame, id: Column, text: Column, path: String,
            n: Int = 8): Unit = {
    require(n > 0, "gram length n must be positive")
    SpanDedup.grams(df, id, text, n)
      .write.mode("overwrite").parquet(s"$path/grams")
  }

  /** Admit new documents into the index (screen first with [[check]] if
    * duplicated spans should be scrubbed or rejected before admission).
    * Bounded by the batch; the standing index is only appended to.
    */
  def append(newDocs: DataFrame, id: Column, text: Column, path: String,
             n: Int = 8): Unit = {
    require(n > 0, "gram length n must be positive")
    SpanDedup.grams(newDocs, id, text, n)
      .write.mode("append").parquet(s"$path/grams")
  }

  /** Remove documents from the gram index (takedown): rewrite the gram
    * table without the given ids — index-sized work, removal set
    * broadcast, crash-safe swap. Removed docs stop contributing spans to
    * every later [[check]]/[[dupSpans]]/[[crossSpans]].
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame, idCol: Column): Unit = {
    val tmp = s"$path.remove"
    SwapStore.readParquet(spark, s"$path/grams")
      .join(broadcast(ids.select(idCol.as("id"))), Seq("id"), "left_anti")
      .write.mode("overwrite").parquet(s"$tmp/grams")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** Compact the accumulated small append files (same motivation and
    * crash-safe double-rename swap as [[DedupIndex.compact]]). Contents
    * are row-identical, so [[check]] results are unchanged.
    */
  def compact(spark: SparkSession, path: String, filesPerTable: Int = 8): Unit = {
    require(filesPerTable > 0, "filesPerTable must be positive")
    val tmp = s"$path.compact"
    SwapStore.readParquet(spark, s"$path/grams").coalesce(filesPerTable)
      .write.mode("overwrite").parquet(s"$tmp/grams")
    SwapStore.swapDirs(spark, path, tmp)
  }

  /** [[build]] into a BUCKETED managed table (bucketed + sorted by
    * `gram` — [[graft.sources.Bucketed.write]]): the co-located form the
    * path-based index's docs recommend for continuous ingestion. Every
    * [[checkBucketed]] then joins WITHOUT shuffling the stored side —
    * the corpus-sized gram table reads straight from its buckets and
    * only the (batch-sized) incoming gram frame exchanges into the
    * bucket layout. Size `buckets` so one bucket ≈ one task's worth of
    * grams at the target corpus (the table is the 48-byte-per-window
    * fingerprint form, not text).
    */
  def buildBucketed(df: DataFrame, id: Column, text: Column, table: String,
                    n: Int = 8, buckets: Int = 64): Unit = {
    require(n > 0, "gram length n must be positive")
    graft.sources.Bucketed.write(SpanDedup.grams(df, id, text, n), table, "gram", buckets)
  }

  /** Admit new documents into a bucketed index: appended data lands in
    * the same bucket layout (Spark enforces the spec matches), so
    * [[checkBucketed]] stays exchange-free on the stored side. Appends
    * add one file per bucket per batch — Spark then re-sorts bucket
    * partitions at read (merge of sorted files is not tracked), but the
    * no-shuffle property is unaffected; compact by rewriting via
    * [[buildBucketed]] over the table when file counts grow.
    */
  def appendBucketed(newDocs: DataFrame, id: Column, text: Column, table: String,
                     n: Int = 8, buckets: Int = 64): Unit = {
    require(n > 0, "gram length n must be positive")
    SpanDedup.grams(newDocs, id, text, n)
      .write.mode("append").bucketBy(buckets, "gram").sortBy("gram")
      .format("parquet").saveAsTable(table)
  }

  /** Remove documents from a bucketed index table (takedown), the
    * bucketed twin of [[remove]]: survivors are rewritten through the
    * SAME bucket spec (read from the catalog, so append/compact history
    * can't drift it), keeping every later [[checkBucketed]]
    * exchange-free on the stored side. Index-sized work, removal set
    * broadcast. The swap is two metastore ops (drop + rename) rather
    * than the path index's atomic double-rename — a crash between them
    * leaves `<table>__removing` holding the complete survivor table:
    * roll forward by renaming it into place.
    */
  def removeBucketed(spark: SparkSession, table: String, ids: DataFrame,
                     idCol: Column): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
      throw new IllegalArgumentException(
        s"spanindex: $table is not bucketed — use remove() for path indexes"))
    val tmpT = s"${table}__removing"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpT`")
    spark.table(table)
      .join(broadcast(ids.select(idCol.as("id"))), Seq("id"), "left_anti")
      .write.bucketBy(buckets, "gram").sortBy("gram")
      .format("parquet").saveAsTable(tmpT)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$tmpT` RENAME TO `$table`")
  }

  /** [[check]] against a bucketed index table: identical results, but the
    * stored gram table is never shuffled (its buckets ARE the join
    * partitioning) — per batch, only batch-sized data moves.
    */
  def checkBucketed(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
                    table: String, n: Int = 8): DataFrame = {
    require(n > 0, "gram length n must be positive")
    val hits = SpanDedup.grams(newDocs, id, text, n)
      .join(spark.table(table).select(col("gram")), Seq("gram"), "left_semi")
      .select(col("id"), col("pos"))
    SpanDedup.mergeSpans(hits, n)
  }

  /** Maximal spans of each NEW document that already occur in the indexed
    * corpus: the batch's gram fingerprints (one narrow pass over batch
    * text) join the stored grams on the fingerprint key, hits merge into
    * maximal spans exactly as in [[SpanDedup.duplicateSpans]]. Returns
    * (doc_id, span_start, span_end, n_span_tokens) over the NEW ids —
    * within-batch repetition is NOT flagged (only overlap with the
    * standing corpus; screen-then-append pipelines get cross-batch
    * duplicates on the next batch's check, like [[DedupIndex]]).
    * `n` must equal the index's build-time gram length.
    */
  def check(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
            path: String, n: Int = 8): DataFrame = {
    require(n > 0, "gram length n must be positive")
    // left_semi: a batch gram either exists in the index or not — no hit
    // multiplication when a gram occurs many times in the corpus (indexed
    // boilerplate would otherwise explode an inner join), and no
    // index-wide distinct per batch
    val hits = SpanDedup.grams(newDocs, id, text, n)
      .join(SwapStore.readParquet(spark, s"$path/grams").select(col("gram")),
        Seq("gram"), "left_semi")
      .select(col("id"), col("pos"))
    SpanDedup.mergeSpans(hits, n)
  }

  /** Duplicated spans WITHIN the indexed corpus, computed entirely from
    * the stored gram table — the [[DedupIndex.pairs]] analogue: corpus
    * text is never touched and grams are never recomputed, so repeated
    * runs (e.g. after each [[append]]) cost two scans of the columnar
    * fingerprint table instead of two tokenize passes over corpus text
    * (what the direct [[SpanDedup.duplicateSpans]] pays).
    */
  def dupSpans(spark: SparkSession, path: String, n: Int = 8,
               minDocs: Int = 2): DataFrame = {
    require(n > 0, "gram length n must be positive")
    require(minDocs >= 2, "a span duplicated across < 2 docs is not a duplicate")
    SpanDedup.duplicateSpansFromGrams(SwapStore.readParquet(spark, s"$path/grams"), n, minDocs)
  }

  /** Corpus-vs-corpus span audit from TWO standing indexes, zero text
    * reads (the [[DedupIndex.crossPairs]] analogue): maximal spans of the
    * `pathIncoming` corpus that also occur anywhere in the `pathCorpus`
    * corpus, computed entirely from the stored gram tables. Both indexes
    * must share the build-time gram length `n` (fingerprints of different
    * n never match — same frozen-scheme contract as DedupIndex).
    */
  def crossSpans(spark: SparkSession, pathIncoming: String, pathCorpus: String,
                 n: Int = 8): DataFrame = {
    require(n > 0, "gram length n must be positive")
    val hits = SwapStore.readParquet(spark, s"$pathIncoming/grams")
      .join(SwapStore.readParquet(spark, s"$pathCorpus/grams").select(col("gram")),
        Seq("gram"), "left_semi")
      .select(col("id"), col("pos"))
    SpanDedup.mergeSpans(hits, n)
  }

  /** Screen AND clean: rebuild each new document's text with the spans
    * already present in the indexed corpus removed — the admission-time
    * scrub of a screen-then-admit ingestion pipeline (check what's
    * duplicated, strip it, [[append]] the cleaned remainder). Returns
    * (doc_id, n_tokens, n_removed, scrubbed_text) for EVERY input doc.
    */
  def scrub(spark: SparkSession, newDocs: DataFrame, id: Column, text: Column,
            path: String, n: Int = 8): DataFrame =
    SpanDedup.rebuildOutsideSpans(newDocs, id, text,
      check(spark, newDocs, id, text, path, n))

  /** Continuous-ingestion screening: [[check]] per micro-batch, verified
    * spans handed to `onBatch`. Per-batch for the same reasons as
    * [[DedupIndex.screenStream]] — the span merge is a batch window, and
    * the static gram table is re-read per batch, so appends and
    * compactions are picked up across batches. A batch straddling a
    * [[compact]] swap retries ([[SwapStore.readerStream]]), so `onBatch`
    * must be idempotent.
    */
  def screenStream(spark: SparkSession, stream: DataFrame, id: Column, text: Column,
                   path: String, n: Int = 8)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(stream)(batch => onBatch(check(spark, batch, id, text, path, n)))
}
