package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Persisted k-means model with per-cell integer sufficient statistics —
  * the standing-state form of [[KMeans]] (the clustering member of the
  * standing-index family: [[DedupIndex]], [[IvfIndex]], [[SpanIndex]]).
  *
  * The model stores, per cell, the COUNT and per-dimension SUM of every
  * vector assigned so far (BIGINT fixed point, scale frozen at build).
  * A new batch then folds in WITHOUT revisiting the corpus: assign the
  * batch against the current centroids (narrow broadcast argmin), add
  * its (cell, d) partial sums to the stored statistics, and re-derive
  * centroids as sum div count — the mini-batch k-means update (Sculley
  * '10, web-scale k-means), in arithmetic where every step is exact, so
  * a replayed update sequence is bit-identical on any engine or
  * partitioning. Cells that have received no points keep their initial
  * centroid (count contributes 0 — the [[KMeans.fit]] empty-cell rule).
  *
  * Exact takedown: every fold also appends its per-row assignment
  * `(fold, id, cell, xq)` to a sidecar row store, so [[remove]] can
  * subtract a removed row's quantized vector from EXACTLY the cell it
  * was folded into (re-assigning against current centroids would
  * subtract from the wrong cell once the model has drifted). The
  * standing invariant, spec-asserted: stats ≡ Σ sidecar rows at their
  * recorded cells. The sidecar stores the quantized vectors — the same
  * row-store posture as [[IvfIndex]] (which stores `(cand_id, cv, cell)`);
  * an index that can take rows OUT is a row store, not just an aggregate.
  *
  * Layout at `path`:
  *   `_model/`              — swapped atomically per update/remove
  *     `_centroids/`        — one row: (cell, centroid BIGINT array)
  *     `_stats/`            — k·dim rows of (cell, d, s, n)
  *     `_meta/`             — (q, k, dim, last_batch, folds, gen)
  *   `_assign_g<gen>/`      — sidecar; one `fold=<f>/` dir per fold
  *
  * Crash safety: the tiny `_model` swap ([[SwapStore.swapDirs]]) is the
  * single commit point. An update writes its sidecar fold dir FIRST
  * (overwrite — a replay rewrites the same dir, never duplicates), then
  * swaps `_model` whose meta records `folds`; readers ignore fold dirs
  * above the recorded counter, so a crash between the two writes leaves
  * the previous model fully consistent and the retry idempotent. A
  * remove writes the surviving sidecar into a NEW generation dir and
  * commits it via the `gen` field in the same `_model` swap; the old
  * generation is deleted only after the swap.
  */
object KMeansIndex {

  private case class Meta(q: Long, k: Int, dim: Int, lastBatch: Long,
                          folds: Long, gen: Long, sideSchema: String)

  private def assignDir(path: String, gen: Long) = s"$path/_assign_g$gen"

  /** Fit on the corpus ([[KMeans.fit]]) and persist the model WITH its
    * sufficient statistics and per-row assignment sidecar. The sidecar
    * write is the one corpus-sized pass (assignment carries the
    * quantized vector through — no id-keyed corpus re-join); the
    * statistics then aggregate from the just-written columnar sidecar,
    * not from a second argmin pass.
    */
  def build(corpus: DataFrame, id: Column, vec: Column, k: Int, iters: Int,
            path: String, q: Long = 1000000L): Unit = {
    val spark = corpus.sparkSession
    val cents = KMeans.fit(corpus, id, vec, k, iters, q)
    val dim = cents.select(size(element_at(col("cents"), 1).getField("centroid")))
      .head.getInt(0)
    val assigned = KMeans.assignQuantized(
      corpus.select(id.as("id"), KMeans.quantize(vec, q).as("xq")), cents)
    val proj = assigned.select(col("id"), col("cell"), col("xq"))
    proj.write.mode("overwrite").parquet(s"${assignDir(path, 0L)}/fold=0")
    val stats = spark.read.schema(proj.schema)
      .parquet(s"${assignDir(path, 0L)}/fold=0")
      .select(col("cell"), posexplode(col("xq")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    // the sidecar schema (with the fold partition column) is persisted so
    // readers never depend on file-based inference — a generation whose
    // rows were ALL removed has no data files but must stay readable
    val sideSchema = proj.schema
      .add("fold", org.apache.spark.sql.types.IntegerType).json
    writeModel(s"$path/_model", cents, stats,
      Meta(q, k, dim, -1L, 0L, 0L, sideSchema))
  }

  private def writeModel(modelPath: String, cents: DataFrame, stats: DataFrame,
                         m: Meta): Unit = {
    cents.write.mode("overwrite").parquet(s"$modelPath/_centroids")
    stats.write.mode("overwrite").parquet(s"$modelPath/_stats")
    cents.sparkSession.range(1)
      .select(lit(m.q).as("q"), lit(m.k).as("k"), lit(m.dim).as("dim"),
        lit(m.lastBatch).as("last_batch"), lit(m.folds).as("folds"),
        lit(m.gen).as("gen"), lit(m.sideSchema).as("side_schema"))
      .write.mode("overwrite").parquet(s"$modelPath/_meta")
  }

  /** The stored centroid row (fixed-point BIGINT form — feed through
    * [[KMeans.centroidsAsDouble]] for the IVF plumbing).
    */
  def centroids(spark: SparkSession, path: String): DataFrame =
    SwapStore.readParquet(spark, s"$path/_model/_centroids")

  /** Assign rows against the CURRENT stored centroids. */
  def assign(spark: SparkSession, df: DataFrame, id: Column, vec: Column,
             path: String): DataFrame = {
    val q = meta(spark, path).q
    KMeans.assign(df, id, vec, centroids(spark, path), q)
  }

  /** Continuous classification against the standing model: [[assign]]
    * per micro-batch (routing, online bucketing, streaming SemDeDup's
    * first stage). Centroids are re-read each batch, so an [[update]]/
    * [[remove]] model swap is picked up across batches; the swap's
    * missing-path window retries via [[SwapStore.retryingStaleReads]], so
    * `onBatch` must be idempotent under replay. Per batch: centroids
    * broadcast, one narrow argmin pass — nothing corpus-sized moves.
    */
  def assignStream(spark: SparkSession, stream: DataFrame, id: Column, vec: Column,
                   path: String)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(stream)(batch => onBatch(assign(spark, batch, id, vec, path)))

  /** The per-row `(id, cell)` assignment ledger: every indexed row at the
    * cell its statistics were folded into. Reads only the two narrow
    * columns of the sidecar.
    */
  def assignments(spark: SparkSession, path: String): DataFrame = {
    val m = meta(spark, path)
    sidecar(spark, path, m).select(col("id"), col("cell"))
  }

  /** Valid sidecar rows for the current generation: fold dirs above the
    * committed counter are uncommitted leftovers of a crashed update and
    * are ignored (their retry overwrites them).
    */
  private def sidecar(spark: SparkSession, path: String, m: Meta): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.sideSchema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    spark.read.schema(schema).parquet(assignDir(path, m.gen))
      .where(col("fold") <= m.folds)
  }

  /** The last folded stream batch id (-1 for a batch-only model). */
  def lastBatchId(spark: SparkSession, path: String): Long =
    meta(spark, path).lastBatch

  private def meta(spark: SparkSession, path: String): Meta = {
    val m = SwapStore.readParquet(spark, s"$path/_model/_meta")
      .select(col("q"), col("k"), col("dim"), col("last_batch"),
        col("folds"), col("gen"), col("side_schema")).head
    Meta(m.getLong(0), m.getInt(1), m.getInt(2), m.getLong(3),
      m.getLong(4), m.getLong(5), m.getString(6))
  }

  /** Fold a new batch into the model: assign against current centroids,
    * append the batch's assignment to the sidecar, merge its (cell, d)
    * partial sums into the stored statistics, re-derive centroids as
    * s div n (a cell with n = 0 keeps its current centroid), swap the
    * model crash-safely. Batch-sized work only — the corpus is never
    * revisited. Returns nothing; read [[centroids]]/[[assign]] for the
    * updated model.
    */
  def update(spark: SparkSession, newVecs: DataFrame, id: Column, vec: Column,
             path: String, batchId: Long = -1L): Unit = {
    val m = meta(spark, path)
    // idempotence under streaming replay: a batch id at or below the one
    // already folded is a re-delivery — folding it again would double the
    // sums. Batch callers (batchId = -1) always fold.
    if (batchId >= 0 && batchId <= m.lastBatch) return
    val cents = centroids(spark, path).localCheckpoint()
    val assigned = KMeans.assignQuantized(
      newVecs.select(id.as("id"), KMeans.quantize(vec, m.q).as("xq")), cents)
    // the sidecar fold dir is written FIRST and doubles as the batch pin:
    // a nondeterministic source is materialized once, and the statistics
    // below aggregate from the written files. Overwrite, not append — a
    // replayed crashed update rewrites the same dir instead of
    // duplicating rows. The fold only becomes visible when the _model
    // swap commits the incremented counter.
    val fold = m.folds + 1
    val foldPath = s"${assignDir(path, m.gen)}/fold=$fold"
    val proj = assigned.select(col("id"), col("cell"), col("xq"))
    proj.write.mode("overwrite").parquet(foldPath)
    // explicit schema: an EMPTY micro-batch writes a part-less dir that
    // schema inference cannot read — the fold must still commit (the
    // lastBatch ledger has to advance) with zero contribution
    val batchStats = spark.read.schema(proj.schema).parquet(foldPath)
      .select(col("cell"), posexplode(col("xq")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    // Fail-fast overflow posture (same discipline as KMeans.fit's rows·A
    // check): a long-running stream folds sums indefinitely, and a wrap
    // would silently corrupt every later centroid (non-ANSI Long sums
    // wrap, they don't throw). The check MUST use pre-merge quantities —
    // per (cell, d), |s_merged| <= |s_stored| + |s_batch|, so two tiny
    // aggregates (k·dim stored stats, batch partials) prove the merge
    // exact BEFORE it is computed and written.
    def maxAbsS(df: DataFrame): Long = {
      val r = df.agg(max(abs(col("s")))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val stored = SwapStore.readParquet(spark, s"$path/_model/_stats")
    val (sStored, sBatch) = (maxAbsS(stored), maxAbsS(batchStats))
    require(sBatch <= Long.MaxValue - sStored,
      s"folding this batch (max |s|=$sBatch) into the accumulated " +
        s"centroid sums (max |s|=$sStored) can overflow Long at scale " +
        s"q=${m.q} — rebuild the model on a sample (KMeans.fit) or lower q")
    val merged = stored
      .unionByName(batchStats)
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      .localCheckpoint()
    val newCents = rederive(cents, merged)
    val tmp = s"$path/_model.update"
    writeModel(tmp, newCents, merged,
      m.copy(lastBatch = if (batchId >= 0) batchId else m.lastBatch,
        folds = fold))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Centroids = s div n for cells with data; cells with n = 0 keep the
    * current centroid (the [[KMeans.fit]] empty-cell rule).
    */
  private def rederive(cents: DataFrame, stats: DataFrame): DataFrame = {
    val refreshed = stats.where(col("n") > 0)
      .select(col("cell"), col("d"), expr("s div n").as("c"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("cell"), transform(col("dc"), x => x.getField("c")).as("centroid"))
      .agg(map_from_entries(collect_list(struct(col("cell"), col("centroid")))).as("m"))
    cents.crossJoin(refreshed)
      .select(transform(col("cents"), cc =>
        struct(cc.getField("cell").as("cell"),
          coalesce(element_at(col("m"), cc.getField("cell")),
            cc.getField("centroid")).as("centroid"))).as("cents"))
  }

  /** Exact takedown: subtract each removed row's quantized vector from
    * the cell it was FOLDED into (the sidecar's recorded assignment —
    * not a re-assignment against drifted centroids), rewrite the
    * surviving sidecar into a new generation, re-derive centroids, and
    * commit everything through the one `_model` swap. Removing an id
    * that was never indexed (or was already removed) subtracts nothing —
    * re-issuing a takedown is a no-op, not a double subtraction.
    *
    * Sidecar-sized work (one scan + one rewrite), the same cost shape as
    * [[IvfIndex.remove]]'s row-store rewrite. Takedowns are rare;
    * updates stay batch-sized.
    */
  def remove(spark: SparkSession, path: String, ids: DataFrame,
             idCol: Column): Unit = {
    val m = meta(spark, path)
    val side = sidecar(spark, path, m)
    val rm = broadcast(ids.select(idCol.as("id")))
    val removedStats = side.join(rm, Seq("id"), "left_semi")
      .select(col("cell"), posexplode(col("xq")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(sum(col("x")).as("rs"), count(lit(1)).as("rn"))
    val newStats = SwapStore.readParquet(spark, s"$path/_model/_stats")
      .join(removedStats, Seq("cell", "d"), "left_outer")
      .select(col("cell"), col("d"),
        (col("s") - coalesce(col("rs"), lit(0L))).as("s"),
        (col("n") - coalesce(col("rn"), lit(0L))).as("n"))
      .localCheckpoint()
    val newGen = m.gen + 1
    // survivors land in one fold dir at the current counter — readers'
    // `fold <= folds` window stays valid and the next update appends
    // fold folds+1 as usual
    side.join(rm, Seq("id"), "left_anti")
      .select(col("id"), col("cell"), col("xq"))
      .write.mode("overwrite")
      .parquet(s"${assignDir(path, newGen)}/fold=${m.folds}")
    val cents = centroids(spark, path).localCheckpoint()
    val tmp = s"$path/_model.remove"
    writeModel(tmp, rederive(cents, newStats), newStats, m.copy(gen = newGen))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
    // the old generation is unreferenced after the swap; best-effort drop
    val conf = spark.sparkContext.hadoopConfiguration
    val oldDir = new org.apache.hadoop.fs.Path(assignDir(path, m.gen))
    oldDir.getFileSystem(conf).delete(oldDir, true)
  }

  /** Continuous-ingestion form: [[update]] per micro-batch — the model
    * drifts with the stream. foreachBatch is at-least-once (Spark
    * replays batches on failure), and a sum fold is NOT naturally
    * idempotent, so the model records the last folded batch id and
    * [[update]] skips re-deliveries — the fold lands exactly once per
    * batch id, given a durable `checkpoint` for a model that outlives
    * one query. `onBatch` receives each batch's (id, cell) assignment
    * against the pre-update centroids.
    */
  def updateStream(spark: SparkSession, stream: DataFrame, id: Column, vec: Column,
                   path: String, checkpoint: Option[String] = None,
                   ephemeralOk: Boolean = false)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.writerStream(stream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      val pinned = batch.localCheckpoint()
      onBatch(assign(spark, pinned, id, vec, path))
      update(spark, pinned, id, vec, path, batchId = bid)
    }
}
