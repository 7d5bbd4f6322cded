package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Thin job-management façade — parity with the reference's JobManager REST
  * surface (reference: jobmanager/api.py: submit :169-253, status :256-278,
  * cancel :281-329, metrics :332-352, list :384-398), which fronts a
  * hand-built scheduler/resource-manager. Here jobs are streaming queries;
  * scheduling, deployment, failover and checkpointing are the platform's.
  * Unlike the reference's metrics endpoint (hard-coded mocks,
  * api.py:342-352), these numbers come from the engine's real progress
  * events.
  */
final class JobServer(spark: SparkSession) {

  /** Last progress snapshot per query id, fed by a listener — the live
    * equivalent of the reference's metrics plane
    * (taskmanager/metrics.py:10-120).
    */
  private val progress = TrieMap.empty[java.util.UUID, JobMetrics]

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.put(p.id, JobMetrics(
        recordsPerSecond = p.processedRowsPerSecond,
        inputRowsPerSecond = p.inputRowsPerSecond,
        batchDurationMs = p.batchDuration,
        numInputRows = p.numInputRows,
        stateRows = Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  /** POST /jobs/submit (api.py:169-253): a job is a started query. */
  def submit(name: String, start: => StreamingQuery): JobHandle = {
    val q = start
    JobHandle(name, q)
  }

  /** GET /jobs (api.py:384-398). */
  def listJobs(): Seq[JobHandle] =
    spark.streams.active.toSeq.map(q => JobHandle(Option(q.name).getOrElse(q.id.toString), q))

  /** GET /jobs/{id}/status (api.py:256-278). */
  def status(q: StreamingQuery): String =
    if (q.isActive) "RUNNING"
    else if (q.exception.isDefined) "FAILED"
    else "FINISHED"

  /** GET /jobs/{id}/metrics (api.py:332-352) — real numbers, not mocks. */
  def metrics(q: StreamingQuery): Option[JobMetrics] = progress.get(q.id)

  /** POST /jobs/{id}/cancel (api.py:281-329). */
  def cancel(q: StreamingQuery): Unit = q.stop()

  /** POST /jobs/{id}/savepoint (api.py:446-473): snapshot a STOPPED
    * query's checkpoint directory under a durable name. The snapshot is a
    * fork point — the original checkpoint keeps advancing independently,
    * and any number of new jobs can later start from the named copy
    * (exactly the reference's named-savepoint semantics; its savepoint is
    * likewise a copied checkpoint). Returns the savepoint path.
    *
    * The query owning `checkpointDir` must be stopped first: a live
    * checkpoint mixes commit epochs mid-copy. At cluster scale this copy
    * is a storage-side operation (e.g. object-store prefix copy) on the
    * same layout.
    */
  def savepoint(checkpointDir: String, name: String, savepointRoot: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(checkpointDir)
    require(Files.isDirectory(src.resolve("offsets")),
      s"$checkpointDir is not a streaming checkpoint (no offsets/ log)")
    require(spark.streams.active.forall(q => !sameCheckpoint(q, checkpointDir)),
      s"stop the query using $checkpointDir before taking a savepoint")
    val dst = Paths.get(savepointRoot, name)
    require(!Files.exists(dst), s"savepoint '$name' already exists at $dst")
    copyTree(src, dst)
    dst.toString
  }

  private def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
  }

  /** [[savepoint]] for a [[graft.core.SwapStore]]-backed INGEST job —
    * the [[graft.core.SwapStore.writerStream]] lifecycle of
    * `Sketches.ingest*Stream`, `Diff.maintainAggStream` and
    * `Catalog.ingestStream` (every ledgered stream), which the
    * plain checkpoint copy cannot snapshot alone (their state lives in
    * the store, not the checkpoint). Copies the STOPPED query's
    * checkpoint AND the store's current swap unit under one name; both
    * are captured at rest, so the pair is mutually consistent — the
    * store ledger's last-applied batch id matches the checkpoint's
    * committed offsets, i.e. the savepoint IS a named generation pin.
    * The store is validated FIRST so a bad path cannot leave a
    * checkpoint-only half-savepoint squatting on the name. Returns the
    * checkpoint snapshot path.
    */
  def ingestSavepoint(checkpointDir: String, storePath: String, name: String,
                      savepointRoot: String): String = {
    val storeSrc = java.nio.file.Paths.get(storePath, "_store")
    require(java.nio.file.Files.isDirectory(storeSrc),
      s"$storePath is not a SwapStore (no _store swap unit)")
    val cp = savepoint(checkpointDir, name, savepointRoot)
    copyTree(storeSrc, java.nio.file.Paths.get(savepointRoot, s"$name.store"))
    cp
  }

  /** [[recover]] for an ingest job: restores the store snapshot into
    * `storePath` via the crash-safe swap (a concurrent reader never
    * sees a half-copied store), then starts the query from the
    * savepoint checkpoint. The recovered job resumes folding at
    * exactly the pinned ledger batch: the sources replay from the
    * snapshot offsets and every batch id the restored ledger already
    * holds is a no-op — exactly-once across the rollback.
    */
  def ingestRecover(savepointRoot: String, name: String, storePath: String)
                   (start: String => StreamingQuery): JobHandle = {
    import java.nio.file.{Files, Paths}
    val snap = Paths.get(savepointRoot, s"$name.store")
    require(Files.isDirectory(snap),
      s"no ingest savepoint '$name' under $savepointRoot")
    val tmp = Paths.get(storePath, "_store.next")
    graft.core.TempDirs.deleteRecursively(tmp)
    copyTree(snap, tmp)
    val live = Paths.get(storePath, "_store")
    if (Files.isDirectory(live))
      graft.core.SwapStore.swapDirs(spark, live.toString, tmp.toString)
    else {
      Files.createDirectories(live.getParent)
      Files.move(tmp, live)
    }
    recover(savepointRoot, name)(start)
  }

  /** [[ingestSavepoint]] for a CATALOG-backed ingest job
    * ([[graft.core.Catalog.ingestStream]],
    * [[graft.ops.Admission.ingestStream]]): the stopped query's
    * checkpoint is copied under the name, and the catalog pins its
    * current generations under the SAME name via
    * [[graft.core.Catalog.savepoint]] — an O(stores) pointer-set pin
    * instead of a data copy, because catalog generations are
    * immutable (this is the scale difference from the single-store
    * form: a 100 TB catalog savepoints in milliseconds). Both sides
    * are captured at rest, so checkpoint offsets and the shared
    * ledger are mutually consistent. A failed catalog pin removes the
    * checkpoint copy so no half-savepoint squats on the name.
    */
  def catalogSavepoint(checkpointDir: String, catalogBase: String, name: String,
                       savepointRoot: String): String = {
    graft.core.Catalog.lastBatch(spark, catalogBase) // validate the base first
    val cp = savepoint(checkpointDir, name, savepointRoot)
    try graft.core.Catalog.savepoint(spark, catalogBase, name)
    catch { case e: Throwable =>
      graft.core.TempDirs.deleteRecursively(java.nio.file.Paths.get(cp)); throw e
    }
    cp
  }

  /** [[ingestRecover]] for a catalog job: [[graft.core.Catalog.restore]]
    * rewinds the manifest to the pin (two renames, no data copy), then
    * the query starts from a fresh copy of the savepoint checkpoint.
    * The sources replay from the snapshot offsets; batch ids at or
    * below the restored ledger no-op, ids beyond it fold — exactly-once
    * across the rollback, any number of times (the pin is a standing
    * fork point).
    */
  def catalogRecover(savepointRoot: String, name: String, catalogBase: String)
                    (start: String => StreamingQuery): JobHandle = {
    // validate the checkpoint-side savepoint BEFORE touching the live
    // catalog: a typo'd root/name must fail without rolling anything
    // back (the restore is the destructive half of this pair)
    require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(savepointRoot, name)),
      s"no savepoint '$name' under $savepointRoot")
    graft.core.Catalog.restore(spark, catalogBase, name)
    recover(savepointRoot, name)(start)
  }

  /** POST /jobs/catalog-replicate: one DR sync pass
    * ([[graft.core.Catalog.replicate]]) through the same facade that
    * manages the ingest jobs, so an external scheduler drives sync
    * cadence next to savepoint/recover. Returns the (store, gen)
    * pairs this pass actually shipped (empty = already converged);
    * `full = true` after a primary restore (the re-minted-generation
    * fork caveat).
    */
  def catalogReplicate(primary: String, replica: String,
                       full: Boolean = false): Map[String, Long] =
    graft.core.Catalog.replicate(spark, primary, replica, full)

  /** GET /jobs/catalog-verify: per-store DR consistency verdicts
    * ([[graft.core.Catalog.verifyReplica]] — content fingerprints,
    * not pointer compares). Rows of (store, nPrimary, nReplica,
    * consistent).
    */
  def catalogVerify(primary: String, replica: String): Seq[(String, Long, Long, Boolean)] =
    graft.core.Catalog.verifyReplica(spark, primary, replica)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

  /** POST /jobs/recover (api.py:476-515): start a job from a named
    * savepoint. The snapshot is copied to a FRESH run directory
    * (`<root>/<name>.run<N>`, first free N) and the caller's `start`
    * function receives THAT path as the new query's checkpointLocation
    * — the recovered query advances its own copy, never the pin, so
    * the named savepoint stays a fork point that any number of later
    * recoveries can start from.
    */
  def recover(savepointRoot: String, name: String)(start: String => StreamingQuery): JobHandle = {
    import java.nio.file.{Files, Paths}
    val dst = Paths.get(savepointRoot, name)
    require(Files.isDirectory(dst), s"no savepoint '$name' under $savepointRoot")
    val run = Iterator.from(0).map(i => Paths.get(savepointRoot, s"$name.run$i"))
      .find(!Files.exists(_)).get
    copyTree(dst, run)
    JobHandle(name, start(run.toString))
  }

  /** True iff the active query's resolved checkpoint root points at `dir`
    * (the public StreamingQuery API hides the checkpoint path; the
    * execution object carries it).
    */
  private def sameCheckpoint(q: StreamingQuery, dir: String): Boolean = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      val want = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString
      val got = new java.net.URI(w.streamingQuery.resolvedCheckpointRoot).getPath
      got != null && java.nio.file.Paths.get(got).toAbsolutePath.normalize.toString == want
    case _ => false
  }

  def close(): Unit = spark.streams.removeListener(listener)
}

final case class JobHandle(name: String, query: StreamingQuery) {
  def id: java.util.UUID = query.id
  def isActive: Boolean = query.isActive
}

final case class JobMetrics(
    recordsPerSecond: Double,
    inputRowsPerSecond: Double,
    batchDurationMs: Long,
    numInputRows: Long,
    stateRows: Long)
