package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Atomic multi-store ingestion — one admitted batch folds into SEVERAL
  * standing stores with all-or-nothing visibility under ONE shared
  * batch ledger.
  *
  * Each standing index in this library ([[graft.ops.DedupIndex]],
  * [[graft.ops.Bm25Index]], the sketch stores, the materialized views)
  * is individually crash-safe, but a pipeline that admits a batch and
  * then folds it into every index one-by-one is NOT: a crash
  * mid-sequence leaves the indexes mutually inconsistent (some saw the
  * batch, some did not), and a replay double-applies into the ones that
  * did. This is the honest version of the reference's claimed — but
  * not actually transactional — checkpoint commit (reference:
  * jobmanager/checkpoint_coordinator.py:485-527 "commits" per-operator
  * state files sequentially with no atomicity point; a crash between
  * files yields exactly the torn state described above).
  *
  * Design: generation-addressed stores behind a single manifest swap.
  * ```
  *   base/_manifest            SwapStore: rows (store, gen) + the shared
  *                             last-applied-batch ledger, one swap unit
  *   base/stores/<name>/g<N>   immutable parquet tables; N = the batch
  *                             id that produced it (init = g-1)
  * ```
  * [[ingest]] writes every store's NEW generation to `g<batchId>`
  * (never touching the current ones), then swaps the manifest — the
  * single atomic point — to reference them all and advance the ledger.
  * Crash anywhere before the swap: the manifest still references the
  * old generations, every reader sees the pre-batch catalog, and the
  * replay (same batch id, deterministic generation names) simply
  * overwrites the partial `g<batchId>` dirs and swaps. Crash during
  * the swap: [[SwapStore]]'s own roll-forward/back recovery. A
  * re-delivered batch (id ≤ ledger) is a no-op before any write.
  *
  * Every manifest mutation ([[init]], [[ingest]], [[addStore]],
  * [[restore]], a replica's cutover) is a pair-table commit through
  * [[SwapStore]]'s one commit path (lease → staged data → staged
  * ledger → `assertHeld` → swap), and the manifest and savepoint
  * pointer sets go through its one parquet-mr codec — zero Spark jobs
  * per catalog touch. Superseded generations leave through one sweep
  * (`sweepGens`), whichever of the fold GC, the replica cutover or
  * [[vacuum]] decides the keep-set.
  *
  * Scale shape: a fold's work per store is whatever the caller's fold
  * function costs (the standing-index appends are all new-batch-sized
  * plus the store's own summary tables); the manifest is a
  * store-count-sized table and its swap is two renames. Generations
  * older than the previous one are deleted after a successful swap —
  * the previous survives one fold so readers that resolved the
  * manifest just before the swap can finish (the same bounded-retry
  * posture as every swap reader, [[SwapStore.retryingStaleReads]]).
  */
object Catalog {

  private def manifestPath(base: String) = s"$base/_manifest"
  private def genDir(base: String, store: String, gen: Long) =
    s"$base/stores/$store/g$gen"
  private def savepointDir(base: String, name: String) =
    s"$base/_savepoints/$name"

  /** The replica's inflight pin on the primary — one per replica, so
    * replicas fan out, each with its own pin.
    */
  private def replPin(replica: String) = f"repl-${replica.hashCode}%08x"

  /** Delete every generation dir of `store` under `base` that `keep`
    * does not name — the one generation sweep behind [[ingest]]'s GC,
    * [[replicate]]'s cutover GC and [[vacuum]]. Returns the deleted paths.
    */
  private def sweepGens(spark: SparkSession, base: String, store: String,
                        keep: Set[Long]): Seq[String] = {
    val fs = SwapStore.fsOf(spark, base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/stores/$store")
    val names = keep.map(g => s"g$g")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filterNot(p => names.contains(p.getName))
      .map { p => fs.delete(p, true); p.toString }
  }

  /** Create the catalog: every store's initial table becomes its g-1
    * generation and the manifest starts with ledger -1.
    */
  def init(base: String, stores: Map[String, DataFrame]): Unit = {
    require(stores.nonEmpty, "Catalog.init: at least one store")
    val spark = stores.head._2.sparkSession
    stores.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(genDir(base, name, -1L))
    }
    SwapStore.initPairs(spark, manifestPath(base),
      stores.keys.toSeq.sorted.map(n => (n, -1L)))
  }

  /** Current generation per store. The manifest is store-count-sized
    * and read DIRECTLY (parquet-mr, no Spark job) — resolving a store
    * through the catalog costs driver I/O, not query planning.
    */
  def gens(spark: SparkSession, base: String): Map[String, Long] =
    SwapStore.readPairs(spark, manifestPath(base)).toMap

  /** The current table of one store — resolved through the manifest, so
    * a reader can never see a half-ingested batch.
    */
  def read(spark: SparkSession, base: String, store: String): DataFrame = {
    val g = gens(spark, base).getOrElse(store,
      throw new IllegalArgumentException(s"Catalog: no store '$store' under $base"))
    SwapStore.readParquet(spark, genDir(base, store, g))
  }

  /** Every store's current table, resolved through ONE manifest read —
    * prefer this over repeated [[read]] calls when answering from
    * several stores (each single read re-collects the manifest).
    */
  def readAll(spark: SparkSession, base: String): Map[String, DataFrame] =
    gens(spark, base).map { case (n, g) =>
      n -> SwapStore.readParquet(spark, genDir(base, n, g))
    }

  /** The named stores' current tables, resolved through ONE manifest
    * read and constructing ONLY the named readers — [[readAll]] builds
    * a parquet reader (footer/listing work) per store, which a
    * many-store catalog (the banded [[graft.ops.JoinView]] layout)
    * pays per call even when a fold touches three bands.
    */
  def readSome(spark: SparkSession, base: String,
               names: Seq[String]): Map[String, DataFrame] = {
    val g = gens(spark, base)
    names.map { n =>
      require(g.contains(n),
        s"Catalog: no store '$n' under $base")
      n -> SwapStore.readParquet(spark, genDir(base, n, g(n)))
    }.toMap
  }

  /** The shared ledger: last batch id applied to the catalog (-1 after
    * [[init]]).
    */
  def lastBatch(spark: SparkSession, base: String): Long =
    SwapStore.lastBatch(spark, manifestPath(base))

  /** Add a store to a LIVE catalog: `init` (typically a BACKFILL
    * derived from an existing store — the lineage store exists for
    * exactly this) becomes the new store's generation at the current
    * ledger, and the manifest row appears in one swap. From the next
    * batch on, the store folds like any founding member; the invariant
    * every reader relies on — a store's table reflects exactly the
    * ledger's batches — holds because the backfill is itself derived
    * from stores that reflect them. Single-writer contract as every
    * fold: call between batches, never concurrently with one.
    */
  def addStore(spark: SparkSession, base: String, name: String,
               init: DataFrame): Unit =
    WriterLease.withLease(spark, base, s"Catalog.addStore($name)") {
      val cur = gens(spark, base)
      require(!cur.contains(name),
        s"Catalog.addStore: store '$name' already exists")
      val led = lastBatch(spark, base)
      init.write.mode("overwrite").parquet(genDir(base, name, led))
      // same read-current-then-swap shape as every fold: the new manifest
      // materializes fully to the staging dir before any rename
      SwapStore.resetPairs(spark, manifestPath(base),
        SwapStore.readPairs(spark, manifestPath(base)) :+ ((name, led)), led)
    }

  /** Pin the catalog's CURRENT state under a name. Because generations
    * are immutable, a savepoint is a POINTER SET — every store's
    * current generation plus the shared ledger, written once under
    * `base/_savepoints/<name>` — not a copy: pinning a 100 TB catalog
    * costs one store-count-sized manifest read and one tiny write,
    * where a copy-based savepoint ([[graft.api.JobServer.savepoint]]'s
    * per-job checkpoint clone, the right tool for single-store ingest
    * jobs) would move the data. Pinned generations are exempt from
    * [[ingest]]'s GC until [[dropSavepoint]].
    *
    * Safe concurrent with a live ingest: the (gens, ledger) pair is
    * captured consistently by re-reading the ledger after staging the
    * manifest — folds strictly advance it, so equal before/after means
    * no fold swapped inside the window (a restore DOES require
    * quiescence, as everywhere). One savepoint writer per name.
    */
  def savepoint(spark: SparkSession, base: String, name: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '/' || c == '.'),
      s"Catalog.savepoint: name '$name' must be non-empty without '/' or '.'")
    val fs = SwapStore.fsOf(spark, base)
    val dst = new org.apache.hadoop.fs.Path(savepointDir(base, name))
    require(!fs.exists(dst), s"Catalog.savepoint: '$name' already exists")
    // stage fully, then one rename — a reader never sees a half-written
    // savepoint, and a crashed attempt leaves only an ignorable .tmp
    val tmp = s"$base/_savepoints/.tmp-$name"
    var attempts = 0
    while (true) {
      val before = SwapStore.retryingStaleReads() { lastBatch(spark, base) }
      SwapStore.retryingStaleReads() {
        SwapStore.writeDir(spark, s"$tmp/manifest", SwapStore.Pairs,
          SwapStore.readPairs(spark, manifestPath(base)))
      }
      SwapStore.writeDir(spark, s"$tmp/ledger", SwapStore.Ledger, Seq(before))
      if (SwapStore.retryingStaleReads() { lastBatch(spark, base) } == before) {
        require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
          s"Catalog.savepoint: rename $tmp -> $dst failed")
        return
      }
      attempts += 1
      require(attempts < 10,
        s"Catalog.savepoint: no consistent (gens, ledger) snapshot in $attempts tries under concurrent folds")
    }
  }

  /** Names of the existing savepoints. */
  def savepoints(spark: SparkSession, base: String): Seq[String] = {
    val fs = SwapStore.fsOf(spark, base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/_savepoints")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSeq.sorted
  }

  /** Every generation some savepoint pins, per store — what [[ingest]]'s
    * GC must keep alive in addition to current + previous. A
    * savepoint's pin set is immutable from creation (write-once by
    * construction), so the per-name manifest read caches for the
    * process lifetime and a fold's GC pays one directory listing, not
    * one Spark job per savepoint per trigger; [[dropSavepoint]] evicts.
    */
  private val pinCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
  private def pinnedGens(spark: SparkSession, base: String): Map[String, Set[Long]] =
    savepoints(spark, base)
      .flatMap { n =>
        pinCache.computeIfAbsent(s"$base $n", _ =>
          SwapStore.readDir(spark, s"${savepointDir(base, n)}/manifest",
            SwapStore.Pairs).toMap).toSeq
      }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  /** Read every store AS OF a savepoint WITHOUT restoring — snapshot
    * reads against the pinned generations while the live catalog keeps
    * advancing. The pin is immutable and GC-exempt, so this view stays
    * valid for as long as the savepoint exists, and it costs nothing
    * beyond the reads themselves: time travel is pointer chasing in
    * the generation model.
    */
  def readAt(spark: SparkSession, base: String, name: String): Map[String, DataFrame] = {
    val sp = savepointDir(base, name)
    require(SwapStore.fsOf(spark, base).exists(new org.apache.hadoop.fs.Path(sp)),
      s"Catalog.readAt: no savepoint '$name' under $base")
    SwapStore.readDir(spark, s"$sp/manifest", SwapStore.Pairs)
      .map { case (n, g) =>
        n -> SwapStore.readParquet(spark, genDir(base, n, g))
      }.toMap
  }

  /** Roll the catalog back to a savepoint: the manifest swaps to the
    * pinned (store, gen) rows and the pinned ledger — two renames and
    * a tiny write, regardless of catalog size, because the pinned
    * generations never moved. FORK-POINT semantics: the savepoint
    * survives the restore (restore any number of times), the ledger
    * rewinds to the pin so the batches beyond it replay as genuinely
    * new, and the first post-restore fold's GC clears the abandoned
    * future generations (they are neither current, previous, nor
    * pinned). Single-writer: stop any ingest before restoring.
    */
  def restore(spark: SparkSession, base: String, name: String): Unit =
    WriterLease.withLease(spark, base, s"Catalog.restore($name)") {
      val sp = savepointDir(base, name)
      require(SwapStore.fsOf(spark, base).exists(new org.apache.hadoop.fs.Path(sp)),
        s"Catalog.restore: no savepoint '$name' under $base")
      SwapStore.resetPairs(spark, manifestPath(base),
        SwapStore.readDir(spark, s"$sp/manifest", SwapStore.Pairs),
        SwapStore.readDir(spark, s"$sp/ledger", SwapStore.Ledger).head)
    }

  /** Delete a savepoint; its generations become GC-eligible at the
    * next fold (unless still current, previous, or otherwise pinned).
    */
  def dropSavepoint(spark: SparkSession, base: String, name: String): Unit = {
    val fs = SwapStore.fsOf(spark, base)
    val dst = new org.apache.hadoop.fs.Path(savepointDir(base, name))
    require(fs.exists(dst), s"Catalog.dropSavepoint: no savepoint '$name'")
    fs.delete(dst, true)
    pinCache.remove(s"$base $name")
  }

  /** Fold one admitted batch into every named store atomically: each
    * fold function maps (current store table, batch) to the store's
    * next table. Either every store advances to the batch's generation
    * and the ledger moves, or (on any failure) none does. Stores in
    * the manifest but absent from `folds` keep their generation.
    */
  def ingest(spark: SparkSession, base: String, batchId: Long, batch: DataFrame,
             folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)]): Unit =
    ingestImpl(spark, base, batchId, batch, folds, failAfter = Int.MaxValue)

  /** [[ingest]] with a crash-injection point for the atomicity tests:
    * throws after `failAfter` store generations are written (== folds
    * size: after all writes, before the manifest swap).
    */
  private[graft] def ingestImpl(spark: SparkSession, base: String, batchId: Long,
                                batch: DataFrame,
                                folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)],
                                failAfter: Int): Unit = {
    require(folds.nonEmpty, "Catalog.ingest: at least one fold")
    require(folds.map(_._1).distinct.size == folds.size,
      "Catalog.ingest: duplicate store names in folds")
    if (batchId <= lastBatch(spark, base)) return // re-delivered batch: no-op
    // single-writer ENFORCED (round-11 verdict): a second concurrent
    // ingest into this base fails loudly here instead of racing the
    // generation dirs; a crashed holder's lease goes stale and is
    // reclaimed (WriterLease). Re-delivery no-ops stay lock-free above.
    WriterLease.withLease(spark, base, s"Catalog.ingest(batch $batchId)") {
    // re-check under the lease: the lock-free fast path above can race
    // a writer that applied this very batch between our read and our
    // acquire — re-applying would overwrite a LIVE generation dir with
    // double-folded data (the manifest fold alone would no-op, hiding
    // it). Same guard as SwapStore.fold's.
    if (batchId > lastBatch(spark, base)) {
    val cur = gens(spark, base)
    folds.foreach { case (name, _) =>
      require(cur.contains(name),
        s"Catalog.ingest: store '$name' not in the catalog (${cur.keys.toSeq.sorted.mkString(", ")})")
    }
    folds.zipWithIndex.foreach { case ((name, fold), i) =>
      if (i >= failAfter)
        throw new IllegalStateException(
          s"Catalog: injected crash after $i of ${folds.size} store writes")
      val current = SwapStore.readParquet(spark, genDir(base, name, cur(name)))
      fold(current, batch).write.mode("overwrite")
        .parquet(genDir(base, name, batchId))
    }
    if (failAfter == folds.size)
      throw new IllegalStateException(
        "Catalog: injected crash after all store writes, before the manifest swap")
    val folded = folds.map(_._1).toSet
    SwapStore.foldPairs(spark, manifestPath(base), batchId) { m =>
      m.map { case (n, g) => (n, if (folded(n)) batchId else g) }
    }
    // GC superseded generations: keep the new one, its immediate
    // predecessor (for readers that resolved the manifest pre-swap),
    // and every savepoint-pinned generation
    val pinned = pinnedGens(spark, base)
    folds.foreach { case (name, _) =>
      sweepGens(spark, base, name,
        Set(batchId, cur(name)) ++ pinned.getOrElse(name, Set.empty))
    }
    } // re-check under the lease
    }
  }

  /** Incremental physical replication into a second catalog — the
    * disaster-recovery half of the generation model. Because
    * generations are immutable and batch-id-addressed, a replica is a
    * COPY OF POINTERS plus the generation dirs they reference:
    *
    *  1. pin the primary's current state under an internal savepoint
    *     (`repl-<replica-hash>`) — the pin makes the snapshot stable
    *     against concurrent primary folds AND exempts its generations
    *     from the primary's fold GC for the whole copy, however long
    *     the copy takes;
    *  2. copy every pinned generation the replica does not already
    *     have (stores whose replica manifest already records the
    *     pinned generation ship NOTHING — replication cost is the
    *     changed stores' bytes, never catalog size);
    *  3. cut over: swap the replica's manifest to the pinned (store,
    *     gen) rows and ledger — the same single atomic visibility
    *     point as [[ingest]], so a replica reader never sees a
    *     half-shipped snapshot;
    *  4. GC the replica's superseded generations (keeping, as
    *     everywhere, the new current, the immediately previous, and
    *     anything the REPLICA's own savepoints pin) and drop the
    *     primary-side pin.
    *
    * Crash anywhere: re-running resumes the SAME pinned snapshot (the
    * inflight pin survives, already-complete generation copies are
    * detected by their `_SUCCESS` marker and skipped — Spark writes it
    * last, and a crashed `overwrite` leaves none) and converges to the
    * identical cutover; the replica meanwhile still serves its
    * pre-cutover state. Returns the (store -> generation) pairs this
    * call actually copied.
    *
    * The replica is read-only between replications and single-writer
    * during one (one replicator per replica); the primary's ingest may
    * keep folding throughout — [[savepoint]] captures a consistent
    * (gens, ledger) pair under concurrent folds, and once the pin
    * EXISTS the long copy phase is GC-exempt. The one residual race
    * (a pin whose rename lands only after TWO full fold+GC cycles
    * already swept its generations) self-heals: a copy that finds a
    * pinned generation deleted drops the dead pin and re-pins fresh.
    * Steady-state
    * alternative when the raw batch log is retained: replay the batches
    * through [[ingest]] with the same folds on the replica — the
    * ledger makes the replay exactly-once and the cost is batch-sized,
    * not store-sized (gated as log-shipping in q179).
    *
    * Savepoints are SITE-LOCAL: replication ships the current catalog
    * (manifest + referenced generations), not the primary's pin
    * history — pins are a retention policy, not data, and shipping
    * them would drag every pinned generation across. Replicas fan out
    * (each gets its own inflight pin name) and keep their own pins.
    *
    * FORK CAVEAT: [[restore]] rewinds the primary's ledger, so replayed
    * batches re-mint generation NUMBERS the old timeline already used
    * with different content. A replica taken before the fork would
    * wrongly skip those; replicate with `full = true` after any
    * primary restore to recopy unconditionally.
    *
    * At 100 TB the copy step is the distcp slot: this implementation
    * ships each generation as one distributed parquet read→write
    * (executor-parallel, preserves the data, re-encodes the files); a
    * byte-level distcp of the same immutable directories is a drop-in
    * replacement and the manifest cutover stays the consistency point
    * either way.
    */
  def replicate(spark: SparkSession, primary: String, replica: String,
                full: Boolean = false): Map[String, Long] =
    replicateImpl(spark, primary, replica, full, failAfter = Int.MaxValue)

  /** [[replicate]] with a crash-injection point for the resumability
    * tests: throws after `failAfter` generation copies (== copy-set
    * size: after all copies, before the cutover swap).
    */
  private[graft] def replicateImpl(spark: SparkSession, primary: String,
                                   replica: String, full: Boolean,
                                   failAfter: Int,
                                   retryOnDeadPin: Boolean = true): Map[String, Long] = {
    // fast path: a replica whose pointers already equal the primary's
    // needs no pin, no copies, and no swap — the converged steady state
    // is two manifest reads, and it stays LOCK-FREE (a follower polling
    // a quiet primary never touches the replica's writer lease). (A
    // torn primary read cannot fake a match: a fold swapping between
    // the gens and ledger reads moves the ledger past the replica's
    // either way.) `full` always takes the pinned path — it exists to
    // recopy despite matching pointers.
    if (!full && !savepoints(spark, primary).contains(replPin(replica)) &&
        SwapStore.exists(spark, manifestPath(replica)) &&
        gens(spark, replica) == gens(spark, primary) &&
        lastBatch(spark, replica) == lastBatch(spark, primary))
      return Map.empty
    // the replica is a store base like any other: its writer lease
    // makes a second concurrent replicate (or any other replica-side
    // writer) fail loudly instead of racing the generation copies
    WriterLease.withLease(spark, replica, s"Catalog.replicate(into $replica)") {
      replicateLocked(spark, primary, replica, full, failAfter, retryOnDeadPin)
    }
  }

  /** [[replicateImpl]] past the fast path, with the replica's writer
    * lease HELD — the dead-pin retry recurses here, not through the
    * leased wrapper (re-acquiring a lease we hold would self-conflict).
    */
  private def replicateLocked(spark: SparkSession, primary: String,
                              replica: String, full: Boolean,
                              failAfter: Int,
                              retryOnDeadPin: Boolean): Map[String, Long] = {
    val rfs = SwapStore.fsOf(spark, replica)
    // the call-time floor: one replicate() call must leave the replica
    // at a snapshot AT LEAST this fresh. A crashed earlier attempt (a
    // follower tick stopped between its pin rename and its pin drop)
    // leaves an inflight pin of an OLDER ledger; resuming it is right
    // (the long copy stays resumable) but STOPPING there is not — the
    // caller asked for "the primary as of now", and q185's
    // deterministic final sync requires exactly that. After finishing a
    // stale pin, run once more against a fresh one (incremental: only
    // the stores the stale snapshot missed ship again).
    val entryLedger = SwapStore.retryingStaleReads() { lastBatch(spark, primary) }
    val pin = replPin(replica)
    if (!savepoints(spark, primary).contains(pin)) savepoint(spark, primary, pin)
    val sp = savepointDir(primary, pin)
    val snapRows = SwapStore.readDir(spark, s"$sp/manifest", SwapStore.Pairs)
    val snapGens = snapRows.toMap
    val snapLedger = SwapStore.readDir(spark, s"$sp/ledger", SwapStore.Ledger).head
    // the replica's pre-cutover pointers: what incremental copies skip,
    // and what the post-cutover GC keeps one fold of (racing readers)
    val prevGens: Map[String, Long] =
      if (SwapStore.exists(spark, manifestPath(replica))) gens(spark, replica) else Map.empty
    val toCopy = snapGens.toSeq.sortBy(_._1).filter { case (n, g) =>
      full || !prevGens.get(n).contains(g)
    }
    // a to-copy generation can collide with one the REPLICA's own
    // savepoints pin only after a primary fork re-minted its id
    // (replica pins reference gens a past manifest held; the primary
    // re-uses a number only after restore) — overwriting it would
    // silently corrupt the replica's pinned snapshot, so fail fast
    val rPinned = pinnedGens(spark, replica)
    toCopy.foreach { case (n, g) =>
      require(!rPinned.getOrElse(n, Set.empty).contains(g),
        s"Catalog.replicate: replica savepoints pin generation g$g of store '$n' " +
          "from a diverged timeline (primary fork re-minted the id) — drop the " +
          "replica savepoint or replicate into a fresh base")
    }
    var copied = Map.empty[String, Long]
    try toCopy.zipWithIndex.foreach { case ((name, g), i) =>
      if (i >= failAfter)
        throw new IllegalStateException(
          s"Catalog: injected crash after $i of ${toCopy.size} generation copies")
      val dst = genDir(replica, name, g)
      val done = !full &&
        rfs.exists(new org.apache.hadoop.fs.Path(s"$dst/_SUCCESS"))
      if (!done) {
        SwapStore.readParquet(spark, genDir(primary, name, g))
          .write.mode("overwrite").parquet(dst)
        copied += (name -> g)
      }
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if retryOnDeadPin &&
            Option(e.getMessage).exists(_.contains("PATH_NOT_FOUND")) =>
        // dead pin: its rename lost the race against two full fold+GC
        // cycles and a pinned generation is gone — generations are
        // immutable, so a missing dir is deleted, not mid-swap. Drop
        // the pin and run ONCE more against a fresh one (a second
        // PATH_NOT_FOUND means a genuinely broken catalog — surface it).
        dropSavepoint(spark, primary, pin)
        return replicateLocked(spark, primary, replica, full, failAfter,
          retryOnDeadPin = false)
    }
    if (failAfter == toCopy.size)
      throw new IllegalStateException(
        "Catalog: injected crash after all generation copies, before the cutover swap")
    if (!SwapStore.exists(spark, manifestPath(replica)))
      SwapStore.initPairs(spark, manifestPath(replica), snapRows)
    SwapStore.resetPairs(spark, manifestPath(replica), snapRows, snapLedger)
    snapGens.foreach { case (name, g) =>
      sweepGens(spark, replica, name,
        Set(g) ++ prevGens.get(name) ++ rPinned.getOrElse(name, Set.empty))
    }
    dropSavepoint(spark, primary, pin)
    if (snapLedger < entryLedger)
      // the resumed pin predated this call — catch up on a fresh pin
      // (terminates: the fresh pin's ledger is >= entryLedger)
      copied ++ replicateLocked(spark, primary, replica, full = false,
        failAfter, retryOnDeadPin)
    else copied
  }

  /** Delete every generation directory the catalog no longer
    * references: anything that is neither some store's CURRENT
    * generation nor pinned by a savepoint, plus whole store dirs absent
    * from both the manifest and every pin (a crashed [[addStore]]),
    * plus crashed savepoint staging dirs (`.tmp-*`). Orphans accrue
    * from injected/real crashes mid-[[ingest]] (the partial
    * `g<batchId>` dirs of a batch that never committed) and from
    * [[restore]] forks whose abandoned future generations belong to
    * stores later folds never touch (the per-fold GC only sweeps
    * FOLDED stores). Content-invariant by construction — it never
    * touches a referenced generation — and gated so in q180.
    *
    * MAINTENANCE-WINDOW CONTRACT: unlike the per-fold GC (which keeps
    * each previous generation alive for one fold), vacuum keeps ONLY
    * current + pinned, so run it quiesced or accept that a reader that
    * resolved the manifest just before the sweep may have to retry
    * ([[SwapStore.retryingStaleReads]] re-resolves through the
    * manifest). Returns the deleted paths.
    */
  def vacuum(spark: SparkSession, base: String): Seq[String] =
      WriterLease.withLease(spark, base, "Catalog.vacuum") {
    val fs = SwapStore.fsOf(spark, base)
    val cur = gens(spark, base)
    val pinned = pinnedGens(spark, base)
    val deleted = scala.collection.mutable.ListBuffer.empty[String]
    def rm(p: org.apache.hadoop.fs.Path): Unit = {
      fs.delete(p, true); deleted += p.toString
    }
    val storesDir = new org.apache.hadoop.fs.Path(s"$base/stores")
    if (fs.exists(storesDir))
      fs.listStatus(storesDir).foreach { sd =>
        val name = sd.getPath.getName
        val keep = cur.get(name).toSet ++ pinned.getOrElse(name, Set.empty)
        if (keep.isEmpty) rm(sd.getPath)
        else deleted ++= sweepGens(spark, base, name, keep)
      }
    val spDir = new org.apache.hadoop.fs.Path(s"$base/_savepoints")
    if (fs.exists(spDir))
      fs.listStatus(spDir).foreach { st =>
        if (st.getPath.getName.startsWith(".tmp-")) rm(st.getPath)
      }
    deleted.toSeq
  }

  /** The verification half of DR — an order-independent consistency
    * check between two catalogs. Per store (names from either side's
    * manifest): row count plus content fingerprint (XOR and modular
    * sum of per-row hashes over ALL columns, sorted by name —
    * [[graft.ops.Diff.fingerprint]]), which is one distributed scan
    * and a 1-row reduce per store; nothing data-sized ever shuffles or
    * reaches the driver, so the check is 100 TB-shaped. Returns one
    * row per store: `(store, n_primary, n_replica, consistent)` —
    * `consistent` is false for a store missing on one side (its count
    * reported as -1) or a column-set mismatch. Content-based on
    * purpose: a pointer compare cannot see fork divergence (the
    * re-minted-generation caveat on [[replicate]]); this can.
    */
  def verifyReplica(spark: SparkSession, primary: String,
                    replica: String): DataFrame = {
    val pg = readAll(spark, primary)
    val rg = readAll(spark, replica)
    val rows = (pg.keySet ++ rg.keySet).toSeq.sorted.map { n =>
      (pg.get(n), rg.get(n)) match {
        case (Some(a), Some(b))
            if java.util.Arrays.equals(
              a.columns.sorted.asInstanceOf[Array[AnyRef]],
              b.columns.sorted.asInstanceOf[Array[AnyRef]]) =>
          val cols = a.columns.sorted.toSeq
          def fp(df: DataFrame): (Long, Option[Long], Option[Long]) = {
            val r = graft.ops.Diff.fingerprint(df, Seq.empty, cols).head
            (r.getLong(0),
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getLong(2)))
          }
          val fa = fp(a); val fb = fp(b)
          (n, fa._1, fb._1, fa == fb)
        case (Some(a), Some(b)) => (n, a.count(), b.count(), false)
        case (pa, pb) => (n, pa.map(_.count()).getOrElse(-1L),
          pb.map(_.count()).getOrElse(-1L), false)
      }
    }
    import spark.implicits._
    rows.toDF("store", "n_primary", "n_replica", "consistent")
  }

  /** Continuous follower: re-sync `replica` from `primary` on every
    * tick of `ticks` (default: a 1-row/s rate source triggered every
    * `intervalMs`). Deliberately NO checkpoint: [[replicate]] is
    * idempotent and convergent, so a restarted follower re-syncs from
    * wherever both sides stand, and a tick with nothing changed costs
    * only the pointer-compare fast path — exactly-once machinery
    * would add state for no semantics. Tick content is ignored; tests
    * inject a MemoryStream to make sync points deterministic.
    */
  def replicateStream(spark: SparkSession, primary: String, replica: String,
                      intervalMs: Long = 10000, full: Boolean = false,
                      ticks: Option[DataFrame] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val src = ticks.getOrElse(
      spark.readStream.format("rate").option("rowsPerSecond", 1).load())
    val w = src.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        SwapStore.retryingStaleReads() {
          replicate(spark, primary, replica, full); ()
        }
      }
    (if (ticks.isEmpty)
      w.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
    else w).start()
  }

  /** Continuous atomic ingestion: every arriving micro-batch folds into
    * ALL the named stores under the shared ledger — the streaming form
    * of [[ingest]], with the same exactly-once replay semantics
    * (foreachBatch re-deliveries are no-ops) and the same durable-
    * checkpoint requirement as every store that outlives one query.
    */
  def ingestStream(spark: SparkSession, stream: DataFrame, base: String,
                   folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)],
                   checkpoint: Option[String] = None,
                   ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestStreamDynamic(spark, stream, base, _ => folds, checkpoint, ephemeralOk)

  /** [[ingestStream]] with a BATCH-DEPENDENT fold list: `folds(batch)`
    * decides per trigger which stores this batch touches (and how) —
    * the banded-store pattern ([[graft.ops.JoinView]]'s CDC variant),
    * where a batch folds only the hash bands its keys land in and the
    * untouched bands' generations ride the manifest swap unchanged.
    * The function must be DETERMINISTIC in the batch content: a crash
    * replay recomputes it and must converge on the same store set.
    */
  def ingestStreamDynamic(spark: SparkSession, stream: DataFrame, base: String,
                          folds: DataFrame => Seq[(String, (DataFrame, DataFrame) => DataFrame)],
                          checkpoint: Option[String] = None,
                          ephemeralOk: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.writerStream(stream, base, checkpoint, ephemeralOk) { (batch, bid) =>
      if (bid > lastBatch(spark, base)) // skip fold planning on re-delivery
        ingest(spark, base, bid, batch, folds(batch))
    }
}
