package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** A tiny crash-safe persisted-table lifecycle shared by the continuous
  * folds ([[graft.ops.Diff.maintainAggStream]]'s materialized view,
  * [[graft.ops.Sketches]]' standing bucket tables) and the [[Catalog]]
  * manifest: `path/_store/data` holds the table, `path/_store/ledger`
  * the last-applied streaming batch id — both inside ONE directory
  * swap, so content and ledger can never disagree after a crash, and a
  * foreachBatch re-delivery (batchId ≤ ledger) is a no-op instead of a
  * double-apply.
  *
  * ONE COMMIT PATH: every mutation — [[init]], [[fold]], [[reset]],
  * [[compact]] and their pair-table forms — goes through the private
  * `commit`: take the store's [[WriterLease]], write the data dir into
  * the `_store.next` staging dir, write the ledger beside it (last, so
  * its `_SUCCESS` marker implies the data's), `assertHeld()`, then swap
  * both in with [[swapDirs]]' two renames (a first [[init]] renames the
  * staging dir into place instead). The ledger-guarded fold — lock-free
  * re-delivery check, then the same check again under the lease — is
  * likewise written once, for the DataFrame and the pair form.
  *
  * ONE STREAM PATH: every micro-batch loop over a store in `ops` and
  * `core` starts through [[writerStream]] (bodies that fold into a
  * ledgered store: the durable-checkpoint guard runs first, and the
  * checkpoint keeps batch ids ascending across restarts) or
  * [[readerStream]] (screens and searches that only read stores). Both
  * run each trigger inside [[retryingStaleReads]].
  *
  * Readers racing the swap's visibility window retry via
  * [[retryingStaleReads]], and a crash BETWEEN the two renames (no
  * `_store` at all) is rolled forward or back by [[ensureStore]] on
  * the next read — the staging dir always holds a complete
  * replacement (its writes finish before any rename starts), and the
  * first rename parks the previous content at `_store.old`, so one of
  * the two is always restorable.
  *
  * SINGLE-WRITER CONTRACT — ENFORCED: commits serialize through the
  * shared `_store.next` staging dir, which is exactly foreachBatch's
  * serial-per-query execution model; the path-scoped lease makes a
  * second concurrent writer fail with the named another-writer-holds-
  * the-lease error instead of racing the staging dir. The lease is
  * store-scoped (`path/_writer.lease`), so [[Catalog]] — which holds
  * its own base-scoped lease across a multi-store mutation and then
  * folds its manifest through here — nests without deadlock (base and
  * manifest are different paths). Readers never touch the lease.
  */
object SwapStore {

  private def store(path: String) = s"$path/_store"

  private[core] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A driver-held row table stored as ONE parquet file, read and
    * written by direct parquet-mr I/O — ~1 ms and zero Spark jobs where
    * `spark.range(1).write.parquet` / `spark.read.parquet(...).collect`
    * each cost a full Spark job with planning (~100-300 ms, the
    * dominant per-batch driver gap of the fold-based streaming gates
    * and of every catalog touch). The on-disk layout is what Spark's
    * writer produces — a `part-*.parquet` (SNAPPY) plus a `_SUCCESS`
    * marker — so directories written by either path interread.
    */
  private[core] final class Codec[T](val part: String, schema: String,
                                     val put: (Group, T) => Unit,
                                     val get: Group => T) {
    val messageType = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
  }

  /** The ledger: one optional int64 `last_batch` row. */
  private[core] val Ledger = new Codec[Long]("ledger",
    "message spark_schema { optional int64 last_batch; }",
    (g, b) => g.add("last_batch", b), _.getLong("last_batch", 0))

  /** The [[Catalog]] manifest's (store, gen) pairs: UTF8-annotated
    * binary + int64, the columns Spark writes for a (String, Long) frame.
    */
  private[core] val Pairs = new Codec[(String, Long)]("pairs",
    "message spark_schema { optional binary store (UTF8); optional int64 gen; }",
    { case (g, (s, n)) =>
      g.add("store", org.apache.parquet.io.api.Binary.fromString(s)); g.add("gen", n) },
    g => (g.getBinary("store", 0).toStringUsingUTF8, g.getLong("gen", 0)))

  /** Replace `dir` with `rows` in `codec`'s layout. */
  private[core] def writeDir[T](spark: SparkSession, dir: String, codec: Codec[T],
                                rows: Seq[T]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.delete(d, true)
    fs.mkdirs(d)
    val wconf = new org.apache.hadoop.conf.Configuration(conf)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(codec.messageType, wconf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new Path(d, s"part-00000-${codec.part}.parquet"), wconf))
      .withConf(wconf)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(codec.messageType)
      codec.put(g, r)
      writer.write(g)
    } finally writer.close()
    fs.create(new Path(d, "_SUCCESS"), true).close()
  }

  /** Every row of `dir`, written by EITHER [[writeDir]] or a Spark
    * parquet write (a legacy manifest may span several part files —
    * all are read, in name order).
    */
  private[core] def readDir[T](spark: SparkSession, dir: String, codec: Codec[T]): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new Path(dir)
    val parts = d.getFileSystem(conf).listStatus(d).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .sortBy(_.getName)
    if (parts.isEmpty)
      throw new java.io.FileNotFoundException(s"SwapStore: no part files under $dir")
    parts.toSeq.flatMap { part =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), part)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(codec.get).toList
      finally reader.close()
    }
  }

  /** The parquet table at `path`, read with the schema of ONE footer
    * read here on the driver: the file Spark's inference would pick
    * (`_common_metadata`, then `_metadata`, then the first data file by
    * path), converted the way inference converts it (ColumnBridge
    * contract #4). Inference reads that same footer in a one-task Spark
    * job whose closure ships the session's whole Hadoop conf; this
    * starts no job. Nothing is cached: every call reads the footer of
    * what is on disk now. `path` is a file or a directory, not a glob.
    * A missing path raises Spark's own `PATH_NOT_FOUND`, and a
    * directory with no data file is left to Spark's inference, which
    * raises its own error for it.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val summaries = Seq("_common_metadata", "_metadata")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filter(s => ColumnBridge.listedByFileIndex(s.getPath.getName)).flatMap(leaves)
    val files = (try leaves(fs.getFileStatus(root)) catch {
      case _: java.io.FileNotFoundException if !fs.exists(root) =>
        throw ColumnBridge.pathNotFound(fs.makeQualified(root).toString)
    }).sortBy(_.getPath.toString)
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    footerFile match {
      case Some(f) =>
        val options = HadoopReadOptions.builder(conf, f.getPath)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), options)
        val footer = try reader.getFooter finally reader.close()
        spark.read.schema(ColumnBridge.parquetSchema(spark, new Footer(f.getPath, footer)))
          .parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Recover from a crash inside [[swapDirs]]' two-rename window: if
    * `_store` is missing, roll FORWARD to a complete `_store.next`
    * (both its parquet writes carry `_SUCCESS` markers — the ledger is
    * written last, so its marker implies the data's) or, failing that,
    * roll BACK to `_store.old`. Either direction converges: forward
    * lands with the advanced ledger (the crashed fold's replay is a
    * no-op), back lands with the previous ledger (the replay re-folds).
    *
    * A reader can race a LIVE writer inside the same window (the
    * writer is between its two renames, not crashed). Both sides
    * tolerate losing that race: here, a rename that fails because the
    * writer completed first is accepted as long as `_store` exists
    * afterwards, and a rename that instead lands INSIDE the concurrent
    * store (filesystems resolve rename-onto-existing-dir by moving the
    * source into it) is detected and the junk removed — the moved dir
    * is a stale copy either way. On the writer side, [[swapDirs]]
    * accepts its second rename failing when the recovery completed the
    * swap for it.
    */
  private def ensureStore(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val st = new Path(store(path))
    if (fs.exists(st)) return
    val next = new Path(s"$path/_store.next")
    val old = new Path(s"${store(path)}.old")
    def complete(p: Path): Boolean =
      fs.exists(new Path(p, "data/_SUCCESS")) && fs.exists(new Path(p, "ledger/_SUCCESS"))
    def cleanNested(): Unit =
      Seq("_store.next", "_store.old").foreach { n =>
        val junk = new Path(st, n)
        if (fs.exists(junk)) fs.delete(junk, true)
      }
    if (fs.exists(next) && complete(next)) {
      if (fs.rename(next, st)) fs.delete(old, true)
      else require(fs.exists(st),
        s"SwapStore.ensureStore: roll-forward rename $next -> $st failed")
      cleanNested()
    } else if (fs.exists(old)) {
      require(fs.rename(old, st) || fs.exists(st),
        s"SwapStore.ensureStore: roll-back rename $old -> $st failed")
      cleanNested()
    }
    // neither exists: nothing to recover — let the read surface the
    // genuine missing-store error
  }

  /** True when a store exists at `path` in any state of its swap:
    * `_store`, or a crashed swap's `_store.old` / `_store.next`.
    */
  private[core] def exists(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    Seq("_store", "_store.old", "_store.next").exists(n => fs.exists(new Path(s"$path/$n")))
  }

  /** Atomically replace the directory at `path` with `tmp` via two
    * renames (path -> path.old, tmp -> path). Crash between the
    * renames leaves the previous content at `path.old`; the window
    * where `path` does not exist is what [[retryingStaleReads]]
    * absorbs on the reader side. Shared by every standing index in
    * `graft.ops`, so the swap's crash-safety invariant lives here only.
    *
    * CONCURRENT READERS: the swap is crash-safe but not atomic for a
    * reader in flight — between the two renames `path` momentarily does
    * not exist, and a job that listed files before the swap can chase
    * deleted `path.old` files. A read that straddles the swap fails
    * loudly (missing path / missing file), never silently mixes the two
    * versions — re-reading after the swap sees exactly the new content.
    * The streaming readers retry their batch through
    * [[retryingStaleReads]]; ad-hoc batch readers should either quiesce
    * around a swap or wrap reads the same way.
    */
  private[graft] def swapDirs(spark: SparkSession, path: String, tmp: String): Unit = {
    val dst = new Path(path)
    val src = new Path(tmp)
    val old = new Path(s"$path.old")
    val fs = fsOf(spark, path)
    fs.delete(old, true) // clear any leftover from a prior crashed swap
    require(fs.rename(dst, old), s"swap failed: rename $path -> $path.old")
    // a racing reader's ensureStore may roll our own staging dir
    // forward between the two renames — losing the second rename is
    // fine iff the swap nonetheless completed (dst present, src gone)
    if (!fs.rename(src, dst))
      require(fs.exists(dst) && !fs.exists(src),
        s"swap failed: rename $tmp -> $path " +
          s"(previous content preserved at $path.old)")
    fs.delete(old, true)
  }

  /** Commit one fold of a fold-numbered table (the [[graft.ops.Bm25Index]]
    * and [[graft.ops.TrigramIndex]] postings): write `df` under
    * `dir/_staging` (underscore-prefixed, so invisible to readers), then
    * rename it into place as `dir/fold=<fold>` — idempotent under
    * replay (a re-run overwrites the staging dir and re-renames the
    * same bytes). `options` go to the parquet writer.
    */
  private[graft] def commitFold(df: DataFrame, dir: String, fold: Long,
                                options: Map[String, String] = Map.empty): Unit = {
    val staging = s"$dir/_staging"
    df.write.mode("overwrite").options(options).parquet(staging)
    val dst = new Path(s"$dir/fold=$fold")
    val fs = fsOf(df.sparkSession, dir)
    fs.delete(dst, true) // replayed crashed commit: same bytes, re-rename
    require(fs.rename(new Path(staging), dst), s"fold commit failed: $staging -> $dst")
  }

  /** Run `body`, retrying (bounded, short linear backoff) when it dies
    * on a missing path/file — the [[swapDirs]] visibility window. The
    * classifier is scoped to the two exception TYPES a mid-swap read
    * actually produces (`FileNotFoundException` from a listed-then-
    * vanished file, `AnalysisException [PATH_NOT_FOUND]` from plan-time
    * resolution), anywhere in the cause chain — a genuinely wrong store
    * path raises something else and surfaces immediately instead of
    * burning the retry budget. `body` must be idempotent (a streaming
    * `onBatch` already is — Spark itself replays micro-batches on
    * failure).
    */
  private[graft] def retryingStaleReads[T](attempts: Int = 5, backoffMs: Long = 500)
                                          (body: => T): T = {
    def missingFile(e: Throwable): Boolean = e != null && {
      e.isInstanceOf[java.io.FileNotFoundException] ||
        (e.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
          Option(e.getMessage).exists(_.contains("PATH_NOT_FOUND"))) ||
        missingFile(e.getCause)
    }
    var left = math.max(attempts, 1)
    while (true) {
      try return body
      catch {
        case e: Throwable if missingFile(e) && left > 1 =>
          left -= 1
          Thread.sleep(backoffMs)
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The one commit path. Under the store's writer lease (`what` names
    * the mutation): if `when` holds, write the data dir with
    * `writeData`, then the ledger at `batchId` (both evaluated under
    * the lease), then swap the staged pair in — or, for `create`
    * (init) on a path with no store yet, rename it into place.
    */
  private def commit(spark: SparkSession, path: String, what: String, batchId: => Long,
                     create: Boolean = false, when: => Boolean = true)
                    (writeData: String => Unit): Unit =
    WriterLease.withLeaseHandle(spark, path, what) { lease =>
      if (when) {
        val ledger = batchId
        val tmp = s"$path/_store.next"
        writeData(s"$tmp/data")
        writeDir(spark, s"$tmp/ledger", Ledger, Seq(ledger))
        lease.assertHeld()
        val fs = fsOf(spark, path)
        if (create && !fs.exists(new Path(store(path))))
          require(fs.rename(new Path(tmp), new Path(store(path))),
            s"SwapStore.init: rename $tmp failed")
        else swapDirs(spark, store(path), tmp)
      }
    }

  /** [[commit]] guarded by the ledger: a batch already applied
    * (batchId ≤ ledger) is a lock-free no-op, and the check runs again
    * under the lease — the lock-free read can race a concurrent writer
    * that applied this very batch between our read and our acquire.
    */
  private def commitFolded(spark: SparkSession, path: String, batchId: Long)
                          (writeData: String => Unit): Unit =
    if (batchId > lastBatch(spark, path))
      commit(spark, path, s"SwapStore.fold($path, batch $batchId)", batchId,
        when = batchId > lastBatch(spark, path))(writeData)

  /** Create (or replace) the store with `df` and an empty ledger. */
  def init(df: DataFrame, path: String): Unit =
    commit(df.sparkSession, path, s"SwapStore.init($path)", -1L, create = true)(
      df.write.mode("overwrite").parquet(_))

  /** The current table. */
  def read(spark: SparkSession, path: String): DataFrame = {
    ensureStore(spark, path)
    readParquet(spark, s"${store(path)}/data")
  }

  /** The last applied batch id (-1 after [[init]]). */
  def lastBatch(spark: SparkSession, path: String): Long = {
    ensureStore(spark, path)
    readDir(spark, s"${store(path)}/ledger", Ledger).head
  }

  /** Apply `transform` to the current table and swap the result in,
    * advancing the ledger to `batchId` — or do nothing if `batchId` was
    * already applied. The transform's output plan executes fully
    * (reading the CURRENT files) before any rename happens.
    */
  def fold(spark: SparkSession, path: String, batchId: Long)
          (transform: DataFrame => DataFrame): Unit =
    commitFolded(spark, path, batchId)(dir =>
      transform(read(spark, path)).write.mode("overwrite").parquet(dir))

  /** Replace the store's table AND ledger unconditionally — the
    * restore path ([[Catalog.restore]]) and the in-place manifest
    * rewrite ([[Catalog.addStore]]): unlike [[fold]], the ledger may
    * move BACKWARD (to a savepoint's fork point) or stay put. `df` may
    * read the store's current files — like [[fold]]'s transform, the
    * plan materializes fully into the staging dir before any rename.
    */
  def reset(spark: SparkSession, path: String, df: DataFrame, batchId: Long): Unit =
    commit(spark, path, s"SwapStore.reset($path)", batchId)(
      df.write.mode("overwrite").parquet(_))

  /** Rewrite the store's data into `files` parquet files WITHOUT
    * advancing the ledger — the small-file bound for stores that fold
    * often (every fold's groupBy writes shuffle-partition-many files;
    * a periodic compact keeps the read side to `files` regardless of
    * fold count). Content- and ledger-invariant (SwapStoreSpec).
    */
  def compact(spark: SparkSession, path: String, files: Int = 1): Unit = {
    require(files > 0, "SwapStore.compact: files must be positive")
    commit(spark, path, s"SwapStore.compact($path)", lastBatch(spark, path))(dir =>
      read(spark, path).coalesce(files).write.mode("overwrite").parquet(dir))
  }

  /** [[init]]/[[read]]/[[fold]]/[[reset]] specialized to a (store, gen)
    * PAIR table held entirely on the driver — the [[Catalog]] manifest's
    * shape. Zero Spark jobs: the data dir goes through the [[Pairs]]
    * codec, under the same commit path as the DataFrame forms.
    */
  private[graft] def initPairs(spark: SparkSession, path: String,
                               rows: Seq[(String, Long)]): Unit =
    commit(spark, path, s"SwapStore.init($path)", -1L, create = true)(
      writeDir(spark, _, Pairs, rows))

  private[graft] def readPairs(spark: SparkSession, path: String): Seq[(String, Long)] = {
    ensureStore(spark, path)
    readDir(spark, s"${store(path)}/data", Pairs)
  }

  private[graft] def foldPairs(spark: SparkSession, path: String, batchId: Long)
      (transform: Seq[(String, Long)] => Seq[(String, Long)]): Unit =
    commitFolded(spark, path, batchId)(dir =>
      writeDir(spark, dir, Pairs, transform(readPairs(spark, path))))

  private[graft] def resetPairs(spark: SparkSession, path: String,
                                rows: Seq[(String, Long)], batchId: Long): Unit =
    commit(spark, path, s"SwapStore.reset($path)", batchId)(
      writeDir(spark, _, Pairs, rows))

  /** Start the micro-batch loop of a stream whose `body` folds into the
    * ledgered store at `path`, after the durable-checkpoint guard: the
    * ledger de-duplicates batch ids, so exactly-once needs the ids to
    * keep ascending across restarts, which only `checkpoint` provides.
    */
  def writerStream(stream: DataFrame, path: String, checkpoint: Option[String],
                   ephemeralOk: Boolean)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    requireDurableCheckpoint(checkpoint, path, ephemeralOk)
    microBatches(stream, checkpoint)(body)
  }

  /** Start the micro-batch loop of a stream whose `body` only reads
    * stores (screens, searches): a swap landing between triggers is
    * seen by the next one. No checkpoint, since nothing is folded.
    */
  def readerStream(stream: DataFrame)(body: DataFrame => Unit): StreamingQuery =
    microBatches(stream, None)((batch, _) => body(batch))

  /** The one loop: each trigger runs `body` under [[retryingStaleReads]]
    * (bodies must be idempotent; Spark replays micro-batches anyway).
    */
  private def microBatches(stream: DataFrame, checkpoint: Option[String])
                          (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      retryingStaleReads()(body(batch, bid))
    }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The silent-data-loss mode made an ERROR: a restarted checkpoint-
    * less query numbers batches from 0 again and the store ledger
    * no-ops genuinely new ones. `checkpoint = None` therefore requires
    * the caller to say `ephemeralOk = true` out loud (single-query
    * stores: build, read, discard), and even then a warning is logged
    * so the opt-in shows up in the query's log trail (a warning alone
    * proved too easy to miss in Spark's log output).
    */
  private def requireDurableCheckpoint(checkpoint: Option[String], path: String,
                                       ephemeralOk: Boolean): Unit =
    if (checkpoint.isEmpty) {
      require(ephemeralOk,
        s"continuous ingest into $path started WITHOUT a durable checkpoint: " +
          "if this query ever restarts, batch ids reset to 0 and the store's " +
          "ledger will silently skip new data. Pass checkpoint = Some(dir) for " +
          "any store that outlives one query, or ephemeralOk = true to " +
          "explicitly accept a single-query (build, read, discard) store.")
      org.slf4j.LoggerFactory.getLogger(SwapStore.getClass).warn(
        s"continuous ingest into $path runs on an EPHEMERAL checkpoint " +
          "(ephemeralOk = true): the store must not outlive this query.")
    }
}
