package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus admission control — the front door of a training-data
  * pipeline: every arriving batch of documents passes ALL screens or is
  * turned away, and the admitted rows then fold into EVERY standing
  * store of a [[graft.core.Catalog]] atomically (all-or-nothing
  * visibility under the shared batch ledger). This is the composition
  * the individual pieces exist for: [[Dedup]]-style exact screening
  * against a standing fingerprint store, [[Decontamination]] against a
  * broadcast benchmark set, and the catalog's transactional multi-store
  * fold (reference anchor: the checkpoint "commit" this makes honest,
  * jobmanager/checkpoint_coordinator.py:485-527).
  *
  * Determinism contract (what makes a batch oracle valid): batches
  * arrive in ascending-id order, and within a batch the lowest id wins
  * a fingerprint tie — so the admitted set is exactly "the minimum-id
  * document of every fingerprint class, minus contaminated docs",
  * computable by any engine with a window + two joins. Fingerprint-
  * equal documents share their text, hence their contamination status,
  * so the screen order (dedup → decon vs decon → dedup) cannot change
  * the result.
  *
  * Scale shape: the dedup screen is an anti join of the batch against
  * the fingerprint store — fingerprint-sized rows on both sides, the
  * document text never enters that exchange. The decon screen is
  * [[Decontamination.containmentPairs]]'s broadcast-bench narrow pass.
  * One batch-sized fingerprint window handles in-batch ties. The
  * admitted frame is STAGED to parquet once before folding, so every
  * store folds the identical rows and the screen plan runs once, not
  * once per store.
  */
object Admission {

  /** The admitted subset of `batch`: first-occurrence-wins exact dedup
    * (in-batch by lowest `id`, cross-batch against the catalog's
    * `fpStore` table, which must carry one `fp` column) followed by
    * n-gram containment decontamination against `bench`. The result
    * carries the batch's columns plus `__fp` — feed that to the
    * `fpStore` fold so the store grows by exactly the admitted
    * fingerprints.
    */
  def screen(spark: SparkSession, catalogBase: String, fpStore: String,
             batch: DataFrame, id: Column, text: Column,
             bench: DataFrame, benchId: Column, benchText: Column,
             n: Int = 3, threshold: Double = 0.3,
             standingBloomFpp: Option[Double] = None): DataFrame = {
    Seq("__fp", "__id").foreach(c => require(!batch.columns.contains(c),
      s"Admission.screen: batch already has a $c column — rename it first"))
    val withFp = batch
      .withColumn("__fp", TextAnalysis.fingerprint(text))
      .withColumn("__id", id)
    val first = withFp
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col("__id"))))
      .where(col("__rk") === 1).drop("__rk")
    val standing0 = graft.core.Catalog.read(spark, catalogBase, fpStore)
      .select(col("fp").as("__fp"))
    // The 100 TB shape of the cross-batch screen: the standing store
    // dwarfs the batch, and a plain anti join would SHUFFLE the whole
    // fingerprint table by fp every trigger. With standingBloomFpp
    // set, a Bloom built over the BATCH's fingerprints (batch-sized,
    // broadcast to the standing scan) prunes the standing side to
    // ~(true matches + fpp x standing rows) survivors BEFORE the join;
    // a Bloom has no false negatives, so dropping non-members cannot
    // change the anti join, and false positives only add rows the
    // exact join discards. The survivor set is then broadcast — the
    // standing store is scanned but never shuffled. Pick fpp so
    // fpp x |standing| stays broadcastable (1e-4 on a 10^10-row store
    // leaves ~10^6 survivors for a ~3 MB/10^6-key filter). Default
    // None keeps the plain join (right for stores that fit a shuffle).
    val standing = standingBloomFpp match {
      case Some(fpp) =>
        val keys = withFp.select(col("__fp"))
        val bf = keys.stat.bloomFilter(col("__fp"),
          math.max(keys.count(), 1L), fpp)
        val bfB = spark.sparkContext.broadcast(bf)
        val probe = udf((s: String) => s != null && bfB.value.mightContainString(s))
        broadcast(standing0.where(probe(col("__fp"))))
      case None => standing0
    }
    val fresh = first.join(standing, Seq("__fp"), "left_anti")
    val contaminated = Decontamination.containmentPairs(fresh, col("__id"), text,
        bench, benchId, benchText, n, threshold)
      .select(col("train_id").as("__id")).distinct()
    fresh.join(contaminated, Seq("__id"), "left_anti").drop("__id")
  }

  /** Per-row admission verdicts — the audit/lineage form of [[screen]]:
    * EVERY batch row comes back (plus `__fp`), carrying `admitted` and
    * a rejection `reason` of `dup_in_batch` (a lower id in this batch
    * has the same fingerprint), `dup_standing` (the catalog's
    * fingerprint store already holds it), `contaminated`
    * ([[Decontamination]] containment ≥ threshold against `bench`), or
    * null when admitted. `audit(...).where($"admitted")` is row-for-row
    * [[screen]] — pinned by AdmissionSpec — but [[screen]] stays the
    * ingest hot path (its anti joins never materialize the rejected
    * side), while this is what a takedown review or an
    * admission-rate dashboard reads.
    *
    * Scale shape: identical exchanges to [[screen]] (one batch-sized
    * fingerprint window, one fp-only join against the standing store,
    * the broadcast-bench containment pass) — the only extra is that
    * rejected rows flow to the output instead of stopping at an anti
    * join, and rejected rows are exactly what the caller asked to see.
    */
  def audit(spark: SparkSession, catalogBase: String, fpStore: String,
            batch: DataFrame, id: Column, text: Column,
            bench: DataFrame, benchId: Column, benchText: Column,
            n: Int = 3, threshold: Double = 0.3): DataFrame = {
    Seq("__fp", "__id", "__rk", "__hit", "__cont", "admitted", "reason")
      .foreach(c => require(!batch.columns.contains(c),
        s"Admission.audit: batch already has a $c column — rename it first"))
    val ranked = batch
      .withColumn("__fp", TextAnalysis.fingerprint(text))
      .withColumn("__id", id)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col("__id"))))
    val standing = graft.core.Catalog.read(spark, catalogBase, fpStore)
      .select(col("fp").as("__fp")).distinct().withColumn("__hit", lit(true))
    val joined = ranked.join(standing, Seq("__fp"), "left")
    // containment runs only over rows still in the running after the
    // two dedup screens — the same candidate set screen() hands it
    val survivors = joined.where(col("__rk") === 1 && col("__hit").isNull)
    val contaminated = Decontamination.containmentPairs(survivors, col("__id"),
        text, bench, benchId, benchText, n, threshold)
      .select(col("train_id").as("__id")).distinct()
      .withColumn("__cont", lit(true))
    joined.join(contaminated, Seq("__id"), "left")
      .withColumn("reason",
        when(col("__rk") > 1, lit("dup_in_batch"))
          .when(col("__hit"), lit("dup_standing"))
          .when(col("__cont"), lit("contaminated")))
      .withColumn("admitted", col("reason").isNull)
      .drop("__id", "__rk", "__hit", "__cont")
  }

  /** Stage `admitted` once, then fold it into every store atomically
    * ([[graft.core.Catalog.ingest]]). A re-delivered `batchId` returns
    * BEFORE the screen plan executes or anything is staged — the
    * ledger check is the cheap first step, so foreachBatch replays
    * cost one manifest read, not a batch pass. The staging dir is
    * deleted as soon as the fold lands (a long-lived admission stream
    * must not accumulate one stage per trigger); the read is
    * schema-pinned so an all-rejected batch (empty parquet dir) still
    * folds cleanly as zero rows.
    */
  def ingest(spark: SparkSession, catalogBase: String, batchId: Long,
             admitted: DataFrame,
             folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)]): Unit = {
    if (batchId <= graft.core.Catalog.lastBatch(spark, catalogBase)) return
    val stage = graft.core.TempDirs.create("graft_admit")
    try {
      admitted.write.mode("overwrite").parquet(stage)
      graft.core.Catalog.ingest(spark, catalogBase, batchId,
        spark.read.schema(admitted.schema).parquet(stage), folds)
    } finally graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(stage))
  }

  /** The subtract folds for the standard admission-catalog shape — the
    * takedown counterpart of [[ingest]]. Retraction IS an ingest: feed
    * [[graft.core.Catalog.ingest]] a retraction TICKET (rows of the
    * doc-level lineage store: `doc_id`, `source`, `fp`, `n_tokens`,
    * typically `Catalog.read(_, base, lineage).where(pred)`) with
    * these folds and the removal lands in every store under one
    * ledger batch. Lineage and fingerprint stores subtract via
    * ticket-sized anti joins (an admitted doc owns its fingerprint
    * exclusively, so fp removal is exact and the content becomes
    * re-admittable); the stats store — columns `(source, n_docs,
    * n_tokens)` — subtracts the ticket's per-source aggregates and
    * drops rows reaching zero; each `vocab` store is a bucket table
    * keyed by `source`, and because top-k sketches are NOT invertible
    * the retraction is exact bucket-row DELETION — valid only when the
    * ticket covers its sources completely (a finer-than-bucket
    * predicate must instead rebuild the affected buckets from
    * retained data).
    */
  def retractFolds(lineage: String = "docs", fps: String = "fps",
                   stats: String = "stats", vocab: Seq[String] = Seq("vocab"))
      : Seq[(String, (DataFrame, DataFrame) => DataFrame)] =
    Seq(
      lineage -> ((cur: DataFrame, t: DataFrame) =>
        cur.join(t.select("doc_id"), Seq("doc_id"), "left_anti")),
      fps -> ((cur: DataFrame, t: DataFrame) =>
        cur.join(t.select("fp"), Seq("fp"), "left_anti")),
      stats -> ((cur: DataFrame, t: DataFrame) => cur.join(
          t.groupBy(col("source")).agg(count(lit(1)).as("__d"),
            sum(col("n_tokens")).as("__t")), Seq("source"), "left")
        .select(col("source"),
          (col("n_docs") - coalesce(col("__d"), lit(0L))).as("n_docs"),
          (col("n_tokens") - coalesce(col("__t"), lit(0L))).as("n_tokens"))
        .where(col("n_docs") > 0))
    ) ++ vocab.map(v => v -> ((cur: DataFrame, t: DataFrame) =>
      cur.join(t.select("source").distinct(), Seq("source"), "left_anti")))

  /** Continuous admission: [[screen]] + [[ingest]] per micro-batch —
    * the full front door as ONE streaming query. Each trigger screens
    * against the fingerprint store AS GROWN BY the previous trigger
    * (the standing-store read resolves the current generation), folds
    * the admitted rows into every store atomically, and advances the
    * shared ledger; a foreachBatch re-delivery returns after one
    * manifest read. The screen plan is lazy, so a replayed batch never
    * executes it. Durable-checkpoint rule as every store ingest
    * ([[graft.core.SwapStore.writerStream]]).
    */
  def ingestStream(spark: SparkSession, catalogBase: String, fpStore: String,
                   stream: DataFrame, id: Column, text: Column,
                   bench: DataFrame, benchId: Column, benchText: Column,
                   folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)],
                   n: Int = 3, threshold: Double = 0.3,
                   checkpoint: Option[String] = None,
                   standingBloomFpp: Option[Double] = None,
                   ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.core.SwapStore.writerStream(stream, catalogBase, checkpoint, ephemeralOk) {
      (batch, bid) =>
        ingest(spark, catalogBase, bid,
          screen(spark, catalogBase, fpStore, batch, id, text,
            bench, benchId, benchText, n, threshold, standingBloomFpp),
          folds)
    }
}
