package graft.core

import org.apache.spark.sql.SparkSession

/** Filesystem writer lease — the single-writer contract of
  * [[SwapStore]]/[[Catalog]] ENFORCED instead of documented.
  *
  * Two concurrent writers into one store base race the shared staging
  * dirs (`_store.next`, `stores/<name>/g<N>`) and corrupt silently —
  * the round-11 verdict's named residual. A lease file turns that race
  * into a loud, named error at acquire time:
  *
  * ```
  *   base/_writer.lease      one line: "<owner-token>\n<what>"
  * ```
  *
  * Protocol (atomic on HDFS and on local FS via create-exclusive and
  * rename):
  *  - acquire  = create the file with `overwrite = false`; EEXIST means
  *    another writer holds it — read its age and fail loudly while the
  *    lease is live. Any other create failure is rethrown as is, after
  *    deleting the file it may have left without an owner line.
  *  - heartbeat = a daemon thread rewrites the file every `staleMs / 3`
  *    while the guarded body runs, so a long fold keeps its lease
  *    fresh. The rewrite re-verifies ownership first: if the lease was
  *    reclaimed from under us (we were judged dead), the flag trips and
  *    release raises instead of letting the next mutation proceed on a
  *    store someone else now owns. The verify→rewrite pair is fenced
  *    against stop-the-world pauses: if more than `staleMs` elapsed
  *    since the verify, the holder treats ITSELF as reclaimed (it may
  *    have just overwritten a legitimate new holder's file, or be
  *    about to) instead of silently resurrecting a dead lease.
  *  - release  = delete iff still owned.
  *  - stale takeover = a lease whose mtime is older than `staleMs` is a
  *    crashed holder (its heartbeat died with it); the new writer
  *    retires it by ATOMIC RENAME to a tombstone and retries
  *    create-exclusive. Rename-of-missing-source fails, so of N racing
  *    reclaimers exactly one retires the stale file — the losers retry
  *    and land in the live-holder branch against whoever re-acquired.
  *    (A delete-based reclaim would let a slow racer delete the
  *    WINNER's fresh lease: stat-then-delete is not atomic.)
  *
  * Scale shape: two filesystem metadata ops per guarded mutation plus
  * one per heartbeat interval — nothing row-count-shaped. The lease
  * guards WRITERS only; readers never touch it (reads stay lock-free
  * on the manifest/store swaps, as before).
  */
object WriterLease {

  /** Age (ms) past which an un-heartbeated lease is a crashed holder. */
  val DefaultStaleMs = 60000L

  /** Handed to [[withLeaseHandle]] bodies: [[assertHeld]] raises the
    * named reclaimed-mid-mutation error the moment the heartbeat trips
    * the lost flag — call it immediately before the irreversible step
    * (the store swap), not only after the body completes.
    */
  final class Handle private[WriterLease] (
      base: String, what: String,
      lost: java.util.concurrent.atomic.AtomicBoolean) {
    def assertHeld(): Unit =
      if (lost.get())
        throw new IllegalStateException(
          s"$what: writer lease on $base was reclaimed mid-mutation " +
            "(heartbeat judged this holder dead); the store may need the " +
            "replay of this batch — investigate before writing again")
  }

  private def leaseFile(base: String) =
    new org.apache.hadoop.fs.Path(s"$base/_writer.lease")

  private def ownerToken(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
               catch { case _: Exception => "unknown-host" }
    s"$host#${ProcessHandle.current().pid()}#${java.util.UUID.randomUUID()}"
  }

  private def readOwner(fs: org.apache.hadoop.fs.FileSystem,
                        f: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
                 .nextOption().getOrElse(""))
      finally in.close()
    } catch { case _: java.io.IOException => None } // vanished mid-read

  private def writeOwner(fs: org.apache.hadoop.fs.FileSystem,
                         f: org.apache.hadoop.fs.Path, owner: String,
                         what: String, exclusive: Boolean): Unit = {
    val out = fs.create(f, !exclusive)
    try out.write(s"$owner\n$what\n".getBytes("UTF-8")) finally out.close()
  }

  /** Exclusive create of the lease file: false iff it already exists
    * (another writer's lease). Any other failure is rethrown, after
    * deleting the file if it holds no owner line: on the local FS
    * `create` makes the file and THEN forks `chmod`, so an interrupt
    * there (a streaming query's stop() mid-tick, bit q185) left an
    * empty, fresh lease that read as a live holder with an empty owner
    * and blocked the next writer for staleMs. Deleting an empty file is
    * safe: a concurrent writer caught between its own create and its
    * write loses the file, its heartbeat finds no owner line and marks
    * the lease lost, so that writer fails loudly instead of corrupting
    * anything. The interrupt flag is cleared for the cleanup and
    * restored afterwards, as release does.
    */
  private def createOwner(fs: org.apache.hadoop.fs.FileSystem,
                          f: org.apache.hadoop.fs.Path, owner: String,
                          what: String): Boolean =
    try { writeOwner(fs, f, owner, what, exclusive = true); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException =>
        val wasInterrupted = Thread.interrupted()
        try {
          if (readOwner(fs, f).contains("")) fs.delete(f, false)
        } catch { case c: java.io.IOException => e.addSuppressed(c) }
        finally if (wasInterrupted) Thread.currentThread().interrupt()
        throw e
    }

  /** Run `body` holding the writer lease on `base`; `what` names the
    * mutation in the error message. Fails with [[IllegalStateException]]
    * naming the live holder if another writer has the lease; reclaims
    * a stale (crashed-holder) lease transparently.
    */
  def withLease[T](spark: SparkSession, base: String, what: String,
                   staleMs: Long = DefaultStaleMs)(body: => T): T =
    withLeaseHandle(spark, base, what, staleMs)(_ => body)

  /** [[withLease]] with the lost-flag [[Handle]] exposed to the body
    * so it can `assertHeld()` before its point of no return.
    */
  def withLeaseHandle[T](spark: SparkSession, base: String, what: String,
                         staleMs: Long = DefaultStaleMs)
                        (body: Handle => T): T =
    run(spark, base, what, staleMs,
        () => System.currentTimeMillis())(body)

  /** Implementation with an injectable clock — `nowMs` exists ONLY so
    * the pause fence (verify→rewrite straddling `staleMs`) is unit
    * testable without a real 60 s stop-the-world pause.
    */
  private[graft] def run[T](spark: SparkSession, base: String, what: String,
                            staleMs: Long, nowMs: () => Long)
                           (body: Handle => T): T = {
    require(staleMs > 0, "WriterLease: staleMs must be positive")
    val fs = SwapStore.fsOf(spark, base)
    val f = leaseFile(base)
    val owner = ownerToken()

    def acquire(attempts: Int): Unit = {
      if (createOwner(fs, f, owner, what)) return
      val st = try Some(fs.getFileStatus(f))
               catch { case _: java.io.FileNotFoundException => None }
      st match {
        case None => // holder released between our create and stat
          if (attempts > 1) acquire(attempts - 1)
          else throw new IllegalStateException(
            s"WriterLease: could not acquire $f after repeated races")
        case Some(s) =>
          val age = nowMs() - s.getModificationTime
          if (age < staleMs)
            throw new IllegalStateException(
              s"$what: another writer holds the lease on $base " +
                s"(owner ${readOwner(fs, f).getOrElse("?")}, heartbeat ${age} ms ago): " +
                "concurrent writers would corrupt the store — stop the other " +
                s"writer, or wait for its lease to expire (stale after $staleMs ms)")
          // crashed holder: retire by ATOMIC RENAME to a tombstone —
          // of N racing reclaimers only one rename succeeds (rename of
          // a missing source fails), so no racer can ever remove a
          // lease it did not itself observe stale. The losers retry
          // create-exclusive and lose to whoever re-acquired first.
          val tomb = new org.apache.hadoop.fs.Path(
            s"$base/_writer.lease.reclaimed.${java.util.UUID.randomUUID()}")
          val won = try fs.rename(f, tomb)
                    catch { case _: java.io.IOException => false }
          if (won) fs.delete(tomb, false)
          // opportunistic sweep: a reclaimer that crashed between its
          // rename and its delete leaves an orphaned tombstone — clear
          // any stale ones while we're already on the rare reclaim path
          try fs.listStatus(new org.apache.hadoop.fs.Path(base)).foreach { st =>
            if (st.getPath.getName.startsWith("_writer.lease.reclaimed.") &&
                nowMs() - st.getModificationTime >= staleMs)
              fs.delete(st.getPath, false)
          } catch { case _: java.io.IOException => () }
          if (attempts > 1) acquire(attempts - 1)
          else throw new IllegalStateException(
            s"WriterLease: could not reclaim stale lease $f")
      }
    }

    val acquiredAt = nowMs()
    acquire(attempts = 3)
    val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val handle = new Handle(base, what, lost)
    // conservative lower bound of the lease file's mtime: the moment
    // BEFORE each successful write (the file's real mtime is later).
    // Shared with the release path, whose delete needs the same
    // freshness fence as the heartbeat's rewrite.
    val lastWriteRef = new java.util.concurrent.atomic.AtomicLong(acquiredAt)
    val beat = new Thread(() => {
      var going = true
      def lastWrite = lastWriteRef.get()
      while (going && !stop.await(math.max(staleMs / 3, 1L),
                         java.util.concurrent.TimeUnit.MILLISECONDS)) {
        // verify-then-rewrite, FENCED against stalls: a reclaim is
        // legal the moment the file's mtime is staleMs old, so the
        // fence must measure from our LAST WRITE (≤ mtime), not from
        // this iteration's verify — a pause straddling the verify
        // would otherwise leave a window where we clobber a legitimate
        // new holder. If staleMs elapsed since the last refresh, a
        // reclaimer may own the file: treat ourselves as reclaimed and
        // DO NOT touch the file (a read-then-delete here could remove
        // the new holder's fresh lease — the stat-then-delete race the
        // reclaim path avoids by renaming; our stale token, if still
        // there, expires on its own).
        val t0 = nowMs()
        if (!readOwner(fs, f).contains(owner)) {
          lost.set(true); going = false
        } else if (nowMs() - lastWrite >= staleMs) {
          lost.set(true); going = false // paused past expiry: don't write
        } else {
          try writeOwner(fs, f, owner, what, exclusive = false)
          catch { case _: java.io.IOException => () } // next beat retries
          if (nowMs() - lastWrite >= staleMs) {
            // the pause hit DURING the rewrite: we may have clobbered a
            // new holder — surrender; release will not delete (lost)
            lost.set(true); going = false
          } else lastWriteRef.set(t0)
        }
      }
    }, s"graft-writer-lease-${base.hashCode}")
    beat.setDaemon(true)
    beat.start()
    try {
      val r = body(handle)
      handle.assertHeld()
      r
    } finally {
      stop.countDown()
      // release must survive an INTERRUPTED holder: a streaming query's
      // stop() interrupts its foreachBatch thread mid-mutation, and an
      // interrupted join() would throw here, skip the delete, and leave
      // a fresh lease blocking the next writer for a full staleMs (bit
      // q185's follower: stop() raced the final deterministic sync).
      // Clear the flag for the cleanup, then restore it for the caller.
      // The join is UNCAPPED: the stop latch is already down, so the
      // beat thread exits after at most one loop body — a capped join
      // could return while the beat is still inside writeOwner, and the
      // beat would then rewrite the file AFTER our delete, resurrecting
      // an orphaned lease that blocks the next writer for staleMs.
      val wasInterrupted = Thread.interrupted()
      try {
        beat.join()
        // Release fence (mirrors the heartbeat's): a >= staleMs pause
        // since our last refresh means a reclaimer may already own a
        // FRESH lease here, and a read-owner-then-delete would remove
        // the new holder's file (the TOCTOU the reclaim path itself
        // avoids by renaming). Skip the delete in that case — our
        // orphaned token self-expires after staleMs, the documented
        // cheap outcome.
        if (!lost.get() && nowMs() - lastWriteRef.get() < staleMs &&
            readOwner(fs, f).contains(owner)) fs.delete(f, false)
      } catch { case _: InterruptedException => () }
      finally if (wasInterrupted) Thread.currentThread().interrupt()
    }
  }
}
