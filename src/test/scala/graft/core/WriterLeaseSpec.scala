package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Unit coverage for the lease protocol edges that CatalogSpec's
  * integration tests can't reach deterministically: the heartbeat's
  * stop-the-world pause fence (injectable clock), the atomic
  * rename-based stale reclaim, and mid-body loss detection via the
  * [[WriterLease.Handle]].
  */
class WriterLeaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def leaseFile(base: String) = new java.io.File(base, "_writer.lease")

  private def writeForeign(base: String, token: String = "foreign#1#x"): java.io.File = {
    val f = leaseFile(base)
    java.nio.file.Files.write(f.toPath, s"$token\nspec\n".getBytes("UTF-8"))
    f
  }

  /** Body that waits (bounded) for the heartbeat to trip the lost flag. */
  private def waitForLoss(h: WriterLease.Handle): String = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline) {
      try h.assertHeld()
      catch { case _: IllegalStateException => return "lost-observed" }
      Thread.sleep(10)
    }
    "never-lost"
  }

  test("pause fence: staleMs elapsed since the LAST WRITE surrenders before the rewrite") {
    val base = TempDirs.create("lease_fence_prewrite")
    // clock: acquire stamps lastWrite=t; the heartbeat's verify passes
    // but the pre-write fence sees staleMs+1 elapsed since the last
    // refresh — a reclaim was legal in that window, so the holder must
    // surrender WITHOUT writing (and without deleting: the file may be
    // a new holder's by now — read-then-delete is the race the rename
    // reclaim exists to avoid)
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    val t = 1000000L
    val staleMs = 300L
    val clock = () => if (calls.incrementAndGet() == 1) t else t + staleMs + 1
    val e = intercept[IllegalStateException] {
      WriterLease.run(spark, base, "fence-test", staleMs, clock)(waitForLoss)
    }
    assert(e.getMessage.contains("reclaimed mid-mutation"))
    // the stale file is LEFT to expire (never touched after the fence):
    // a new writer reclaims it through the normal stale path
    assert(leaseFile(base).exists())
    assert(leaseFile(base).setLastModified(
      System.currentTimeMillis() - 2 * WriterLease.DefaultStaleMs))
    WriterLease.withLease(spark, base, "after-fence") { () }
    assert(!leaseFile(base).exists())
  }

  test("release fence: a > staleMs pause before the final delete leaves the file to self-expire") {
    val base = TempDirs.create("lease_fence_release")
    // clock: call 1 stamps lastWrite at acquire; the body completes
    // immediately (the heartbeat never iterates — staleMs/3 is far
    // longer than the body), so the NEXT nowMs() call is the release
    // fence itself, simulating a stop-the-world pause between the last
    // refresh and the delete. A reclaimer may own a fresh lease in that
    // window, so the release must NOT delete (r13/r14 verdict item:
    // the read-owner-then-delete TOCTOU) — the orphan self-expires.
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    val t = 1000000L
    val staleMs = 60000L
    val clock = () => if (calls.incrementAndGet() == 1) t else t + staleMs + 1
    assert(WriterLease.run(spark, base, "release-fence", staleMs, clock) {
      _ => "body-done" } == "body-done")
    // the lease file survived the release (delete was fenced off) …
    assert(leaseFile(base).exists())
    // … and a later writer reclaims it through the normal stale path
    assert(leaseFile(base).setLastModified(
      System.currentTimeMillis() - 2 * WriterLease.DefaultStaleMs))
    WriterLease.withLease(spark, base, "after-release-fence") { () }
    assert(!leaseFile(base).exists())
  }

  test("pause fence: a > staleMs pause DURING the rewrite surrenders too") {
    val base = TempDirs.create("lease_fence_postwrite")
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    val t = 1000000L
    val staleMs = 300L
    // acquire at t; verify at t+1, pre-write fence at t+2 (passes),
    // post-write fence at t+staleMs+1 — the pause hit inside the
    // rewrite itself, after the file was already touched
    val clock = () => calls.incrementAndGet() match {
      case 1 => t
      case 2 => t + 1
      case 3 => t + 2
      case _ => t + staleMs + 1
    }
    val e = intercept[IllegalStateException] {
      WriterLease.run(spark, base, "fence-test-2", staleMs, clock)(waitForLoss)
    }
    assert(e.getMessage.contains("reclaimed mid-mutation"))
    // release must NOT delete after a surrender (lost is set)
    assert(leaseFile(base).exists())
  }

  test("pause fence: measured from the last WRITE, not this iteration's verify") {
    val base = TempDirs.create("lease_fence_mtime")
    // the regression the fence originally missed: heartbeat refreshes
    // at t (lastWrite=t), next verify at t+2·staleMs/3, then a pause
    // shorter than staleMs-since-verify but LONGER than
    // staleMs-since-last-write — a reclaimer was already legal, so the
    // holder must surrender even though nowMs - verifyTime < staleMs
    val calls = new java.util.concurrent.atomic.AtomicLong(0)
    val t = 1000000L
    val staleMs = 300L
    val clock = () => calls.incrementAndGet() match {
      case 1 => t          // acquire: lastWrite = t
      case 2 => t + 10     // beat 1 verify
      case 3 => t + 11     // beat 1 pre-write: fresh, writes; lastWrite = t+10
      case 4 => t + 12     // beat 1 post-write: fresh
      case 5 => t + 210    // beat 2 verify (t0)
      case _ => t + 360    // beat 2 pre-write: 360-10=350 >= 300 since
                           // lastWrite, though only 150 since the verify
    }
    val e = intercept[IllegalStateException] {
      WriterLease.run(spark, base, "fence-test-3", staleMs, clock)(waitForLoss)
    }
    assert(e.getMessage.contains("reclaimed mid-mutation"))
  }

  test("stale reclaim is rename-based and leaves no tombstone behind") {
    val base = TempDirs.create("lease_reclaim_rename")
    val f = writeForeign(base)
    assert(f.setLastModified(System.currentTimeMillis() - 2 * WriterLease.DefaultStaleMs))
    var ran = false
    WriterLease.withLease(spark, base, "reclaim-test") { ran = true }
    assert(ran)
    assert(!f.exists())
    val leftovers = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("_writer.lease"))
    assert(leftovers.isEmpty,
      s"reclaim must clean its tombstone: ${leftovers.map(_.getName).mkString(", ")}")
  }

  test("a reclaim that loses the rename race fails loudly against the winner's fresh lease") {
    val base = TempDirs.create("lease_reclaim_lost_race")
    // simulate the loser's view: by the time this writer acts, the
    // stale file was already replaced by the race winner's FRESH lease
    writeForeign(base, "winner#2#y")
    val e = intercept[IllegalStateException] {
      WriterLease.withLease(spark, base, "loser") { () }
    }
    assert(e.getMessage.contains("another writer holds the lease"))
    assert(e.getMessage.contains("winner#2#y"))
  }

  test("an interrupted exclusive create leaves no phantom lease behind") {
    // q185: a streaming stop() interrupted the acquire's create after the
    // local FS had made the file but before the owner line was written;
    // the empty file then read as a live holder and blocked replicate
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${InterruptedCreateFs.Scheme}.impl", classOf[InterruptedCreateFs].getName)
    val base = s"${InterruptedCreateFs.Scheme}://" + TempDirs.create("lease_interrupted_create")
    InterruptedCreateFs.failNext.set(true)
    var interrupted = false
    try intercept[java.io.InterruptedIOException] {
      WriterLease.withLease(spark, base, "interrupted") { () }
    } finally interrupted = Thread.interrupted()
    assert(interrupted, "the caller's interrupt flag must survive the cleanup")
    assert(!InterruptedCreateFs.failNext.get())
    assert(WriterLease.withLease(spark, base, "next-writer") { "ran" } == "ran")
    assert(!leaseFile(base.stripPrefix(s"${InterruptedCreateFs.Scheme}://")).exists())
  }

  test("mid-body loss: a foreign overwrite trips the handle before release") {
    val base = TempDirs.create("lease_midbody_loss")
    val staleMs = 300L
    val e = intercept[IllegalStateException] {
      WriterLease.withLeaseHandle(spark, base, "loss-test", staleMs) { h =>
        writeForeign(base, "usurper#3#z") // reclaimed from under us
        val r = waitForLoss(h)
        assert(r == "lost-observed")
        r
      }
    }
    assert(e.getMessage.contains("reclaimed mid-mutation"))
    // the usurper's file must NOT be deleted by our release
    assert(leaseFile(base).exists())
    assert(new String(java.nio.file.Files.readAllBytes(leaseFile(base).toPath), "UTF-8")
      .startsWith("usurper#3#z"))
  }
}

/** Local FS under its own scheme whose next exclusive create makes the
  * file, then fails as an interrupted `chmod` fork does: with the
  * thread's interrupt flag set and an [[java.io.InterruptedIOException]].
  */
class InterruptedCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${InterruptedCreateFs.Scheme}:///")
  override def getScheme: String = InterruptedCreateFs.Scheme

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (overwrite || !InterruptedCreateFs.failNext.compareAndSet(true, false)) out
    else {
      out.close()
      Thread.currentThread().interrupt()
      throw new java.io.InterruptedIOException("java.lang.InterruptedException")
    }
  }
}

object InterruptedCreateFs {
  val Scheme = "leaseinterrupt"
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
}
