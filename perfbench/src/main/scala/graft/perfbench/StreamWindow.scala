package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.api.{JobServer, StreamEnv}
import graft.core.{GraftSession, TempDirs}

/** The reference's Scenario 2 as one streaming query: CSV event files →
  * event time with a 5 s bounded-out-of-orderness watermark → key by key →
  * 10 s tumbling window → count / sum(value) / max(created), update mode,
  * into a `foreachBatch` sink that keeps the last update per (window, key).
  */
object WindowQuery {
  val Schema: StructType = StructType(Seq(StructField("key", LongType),
    StructField("value", LongType), StructField("created_ms", LongType)))

  def build(spark: SparkSession, dir: String): DataFrame =
    StreamEnv(spark).fromFileStream(dir, "csv", Schema)
      .withField("created", timestamp_millis(col("created_ms")))
      .withEventTime("created", "5 seconds")
      .keyBy(col("key"))
      .window(col("created"), "10 seconds")
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_v"), max(col("created")).as("max_created"))
      .df

  /** Per (window start ms, key): the last emitted (count, sum, max created ms).
    * `stallMsPerRow` slows the sink down on purpose (the honesty test).
    */
  final class Sink(stallMsPerRow: Double = 0.0) {
    val last = new java.util.concurrent.ConcurrentHashMap[(Long, Long), Events.Agg]()
    /** (phase, ms from the row's newest `created` to its arrival here). */
    val latencies = new ConcurrentLinkedQueue[(String, Long)]()
    /** (phase, batch id, ms spent in this sink). */
    val sinkMs = new ConcurrentLinkedQueue[(String, Long, Double)]()
    @volatile var phase = ""

    def apply(batch: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      val rows = batch.select(unix_millis(col("window.start")), col("key"), col("cnt"),
        col("sum_v"), unix_millis(col("max_created"))).collect()
      if (stallMsPerRow > 0) Thread.sleep((rows.length * stallMsPerRow).toLong)
      val now = System.currentTimeMillis()
      val p = phase
      rows.foreach { r =>
        last.put((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))
        latencies.add(p -> (now - r.getLong(4)))
      }
      sinkMs.add((p, id, (System.nanoTime() - t0) / 1e6))
    }
  }

  def start(df: DataFrame, sink: Sink, checkpoint: String, trigger: Trigger): StreamingQuery =
    df.writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Rows that differ from the reference fold, either way. */
  def mismatches(got: collection.Map[(Long, Long), Events.Agg],
                 want: collection.Map[(Long, Long), Events.Agg]): Long =
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k)).toLong
}

/** Progress events of one query, tagged with the phase they arrived in. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  @volatile var queryId: java.util.UUID = _
  @volatile var phase = ""
  val processed = new AtomicLong
  val all = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
  @volatile var onProcessed: Long => Unit = _ => ()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.id == queryId && p.numInputRows > 0) {
      all.add(phase -> p)
      onProcessed(processed.addAndGet(p.numInputRows))
    }
  }
  spark.streams.addListener(this)
  def close(): Unit = spark.streams.removeListener(this)

  def in(phases: String => Boolean): Seq[StreamingQueryProgress] =
    all.asScala.collect { case (ph, p) if phases(ph) => p }.toSeq
}

/** Verdict of one open-loop rate phase. */
final case class Phase(name: String, rate: Double, latencies: Seq[Long],
                       backlogGrowth: Double, backlogMax: Long, genLateMs: Long) {
  def p(q: Double): Double =
    if (latencies.isEmpty) Double.PositiveInfinity else Stats.quantile(latencies.map(_.toDouble), q)
  /** Sustained: the backlog's trough did not grow by more than `GrowthTolS`
    * seconds of input, p99 stayed within the limit, and the generator kept
    * pace.
    */
  def sustained: Boolean = latencies.nonEmpty &&
    backlogGrowth <= rate * OpenLoop.GrowthTolS && p(0.99) <= OpenLoop.P99LimitMs &&
    genLateMs <= OpenLoop.GenLateLimitMs
}

/** Open-loop load: one generator thread writes seeded event files on
  * a fixed schedule at the current rate, whatever the engine does; the
  * engine reads them through the window query. Latency runs from each
  * event's due time, so queueing in front of the engine counts.
  */
final class OpenLoop(spark: SparkSession, seed: Long, dir: Path, stallMsPerRow: Double = 0.0) {
  import OpenLoop._
  private val drop = Files.createDirectories(dir.resolve("drop"))
  private val tmp = Files.createDirectories(dir.resolve("tmp"))
  val sink = new WindowQuery.Sink(stallMsPerRow)
  val progress = new ProgressLog(spark)
  val jobs = new JobServer(spark)
  /** Every slice written, in order. */
  val slices = new ConcurrentLinkedQueue[Events.Slice]()
  val written = new AtomicLong
  @volatile private var rate = 0.0
  @volatile private var lateOk = false
  @volatile private var running = true
  @volatile private var lateMax = 0L
  var query: StreamingQuery = _
  var submitMs = 0.0

  // delete input files once a committed batch has read them
  private val pending = new ConcurrentLinkedQueue[(String, Long)]()
  progress.onProcessed = done =>
    while (Option(pending.peek()).exists(_._2 <= done))
      Files.deleteIfExists(drop.resolve(pending.poll()._1))

  private val generator = new Thread(() => {
    var seq = 0L
    var carry = 0.0
    var due = System.currentTimeMillis()
    var file = 0
    while (running) {
      val start = due
      due += TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      carry += rate * TickMs / 1000.0
      val n = carry.toInt
      carry -= n
      if (n > 0) {
        val s = Events.Slice(seq, n, start, TickMs, lateOk)
        val name = f"ev-$file%08d.csv"
        Events.write(seed, s, tmp, drop, name)
        seq += n
        file += 1
        val total = written.addAndGet(n)
        slices.add(s)
        pending.add(name -> total)
      }
      lateMax = math.max(lateMax, System.currentTimeMillis() - due)
    }
  }, "perfbench-generator")
  generator.setDaemon(true)

  def backlog: Long = written.get - progress.processed.get

  def start(checkpoint: String): Unit = {
    val df = WindowQuery.build(spark, drop.toString)
    val t0 = System.nanoTime()
    query = Trace.span("api", "JobServer.submit")(jobs.submit("stream-window",
      WindowQuery.start(df, sink, checkpoint, Trigger.ProcessingTime(0L))).query)
    submitMs = Stats.secs(t0) * 1000
    progress.queryId = query.id
    generator.start()
  }

  /** Offer `r` events/s for `settle + measure` seconds; judge the
    * measured part.
    */
  def phase(name: String, r: Double, settle: Double, measure: Double): Phase = {
    sink.phase = s"$name.settle"
    progress.phase = s"$name.settle"
    lateOk = true
    rate = r
    Thread.sleep((settle * 1000).toLong)
    sink.phase = name
    progress.phase = name
    lateMax = 0L
    val samples = mutable.ArrayBuffer.empty[Long]
    val end = System.nanoTime() + (measure * 1e9).toLong
    while (System.nanoTime() < end) {
      samples += backlog
      Thread.sleep(SampleMs)
    }
    // the backlog saws up between commits and down at each; its troughs
    // (what is still queued right after a commit) show whether it grows
    val half = samples.size / 2
    def trough(xs: collection.Seq[Long]) = xs.minOption.getOrElse(0L).toDouble
    Phase(name, r, sink.latencies.asScala.collect { case (`name`, l) => l }.toSeq,
      trough(samples.drop(half)) - trough(samples.take(half)), samples.maxOption.getOrElse(0L), lateMax)
  }

  /** Offer `r` events/s without late events until `batches` micro-batches
    * have committed: the first batch runs before any watermark exists, so a
    * late event read by it would be kept, not dropped.
    */
  def warmUp(r: Double, batches: Int, timeoutS: Double): Boolean = {
    sink.phase = "warmup"
    progress.phase = "warmup"
    lateOk = false
    rate = r
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (progress.all.size < batches && System.nanoTime() < end) Thread.sleep(SampleMs)
    progress.all.size >= batches
  }

  /** Stop offering load and wait until the engine has read every event. */
  def quiesce(timeoutS: Double): Boolean = {
    rate = 0.0
    sink.phase = "quiesce"
    progress.phase = "quiesce"
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    Thread.sleep(2 * TickMs)
    while (backlog > 0 && System.nanoTime() < end) Thread.sleep(SampleMs)
    backlog == 0
  }

  def stop(): Unit = {
    running = false
    generator.join()
    Option(query).foreach(_.stop())
    jobs.close()
    progress.close()
  }
}

object OpenLoop {
  val TickMs = 100L
  val SampleMs = 20L
  val P99LimitMs = 1000.0
  val GrowthTolS = 0.25
  val GenLateLimitMs = 200L
}

/** `stream-window`: a preloaded backlog drained with `Trigger.AvailableNow`,
  * seven times (`alloc_mb`, `cpu_s`, and `wall_s`, the closed-loop capacity); the
  * traced run adds the open-loop reference-rate phase for
  * `--seconds` (`latency_p50_ms`, `latency_p90_ms`).
  */
final class StreamWindow extends Workload {
  import StreamWindow._

  private def drainSlices: Seq[Events.Slice] = (0 until DrainFiles).map { i =>
    Events.Slice(i.toLong * DrainPerFile, DrainPerFile, DrainStartMs + i * 1000L, 1000L, lateOk = false)
  }

  /** Preload the drain backlog; modification times follow file order. */
  def stage(ctx: Ctx): Unit = {
    val in = ctx.runDir.resolve("drain-in")
    TempDirs.deleteRecursively(in)
    Files.createDirectories(in)
    val tmp = Files.createDirectories(ctx.runDir.resolve("drain-tmp"))
    drainSlices.zipWithIndex.foreach { case (s, i) =>
      val f = Events.write(ctx.seed, s, tmp, in, f"d-$i%05d.csv")
      f.toFile.setLastModified(DrainStartMs + i * 1000L)
    }
  }

  private var drainWant: collection.Map[(Long, Long), Events.Agg] = _

  /** One drain of the preloaded backlog on a fresh checkpoint; (wall s, work). */
  private def drainOnce(ctx: Ctx, spark: SparkSession, i: Int): (Double, Work) = {
    val sink = new WindowQuery.Sink
    val cp = ctx.dir(s"drain-cp-$i")
    val t0 = System.nanoTime()
    val (_, work) = JavaWork.measure {
      Trace.span("streaming", "drain")(WindowQuery.start(
        WindowQuery.build(spark, ctx.dir("drain-in")), sink, cp, Trigger.AvailableNow()))
        .awaitTermination()
    }
    val s = Stats.secs(t0)
    TempDirs.deleteRecursively(java.nio.file.Paths.get(cp))
    if (drainWant == null) drainWant = Events.fold(ctx.seed, drainSlices)
    val bad = WindowQuery.mismatches(sink.last.asScala, drainWant)
    ctx.result.check(1, if (bad > 0) 1 else 0, s"drain $i: $bad (window, key) rows differ from the fold")
    (s, work)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    GraftSession.forStreaming(spark, Events.Keys)

    // the first drains compile and warm the query (the JIT keeps warming
    // over several), the others are timed; a fixed count, so every run
    // takes its median at the same point of that curve
    (1 to WarmDrains).foreach(i => drainOnce(ctx, spark, -i))
    val drains = (1 to TimedDrains).map(drainOnce(ctx, spark, _))
    Main.log(s"drains ${drains.map { case (s, w) => f"$s%.2f s (${w.cpuS}%.2f CPU s, ${w.allocMb}%.0f MB)" }.mkString(", ")}")
    val drainS = Stats.median(drains.map(_._1))
    res.put("wall_s", drainS, "s")
    res.put("alloc_mb", Stats.median(drains.map(_._2.allocMb)), "MB")
    res.put("cpu_s", Stats.median(drains.map(_._2.cpuS)), "s")
    ctx.sampleHeap()
    if (ctx.trace) openLoop(ctx, drainS)
  }

  /** The traced run's open-loop part: the reference phase (latency), its
    * checks, the per-layer metrics and the single-core drain.
    */
  private def openLoop(ctx: Ctx, drainS: Double): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val loop = new OpenLoop(spark, ctx.seed, ctx.runDir.resolve("open-loop"))
    var ref: Phase = null
    var refWall = 0.0
    var refC = Counters.zero
    try {
      loop.start(ctx.dir("open-loop-cp"))
      require(loop.warmUp(RefRate, WarmupBatches, QuiesceS * 3), "open loop: no micro-batch committed")
      Main.log("open loop warmed up")
      val r0 = ctx.probe.snapshot()
      val t0 = System.nanoTime()
      ref = loop.phase("ref", RefRate, RefSettleS, ctx.seconds)
      refWall = Stats.secs(t0)
      refC = ctx.probe.snapshot() - r0
      Main.log(f"reference ${ref.rate}%.0f ev/s p50 ${ref.p(0.5)}%.0f ms " +
        f"p90 ${ref.p(0.9)}%.0f ms p99 ${ref.p(0.99)}%.0f ms backlog growth ${ref.backlogGrowth}%.0f " +
        f"generator late ${ref.genLateMs} ms${if (ref.sustained) "" else " (not sustained)"}")
      if (!loop.quiesce(FinalQuiesceS)) res.fail(s"open loop: ${loop.backlog} events never read")
      ctx.sampleHeap() // no batch in flight
    } finally {
      loop.stop()
      Seq("open-loop", "open-loop-cp").foreach(d => TempDirs.deleteRecursively(ctx.runDir.resolve(d)))
    }

    val slices = loop.slices.asScala.toSeq
    val bad = WindowQuery.mismatches(loop.sink.last.asScala, Events.fold(ctx.seed, slices))
    res.check(loop.sink.last.size.toLong.max(1), bad, "(window, key) rows differ from the plain fold")
    val late = Events.lateCount(ctx.seed, slices)
    val progress = loop.progress.in(_ => true)
    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    res.check(1, if (dropped != late) 1 else 0, s"rows dropped late $dropped != late events $late")
    res.attempted += loop.written.get
    Main.log("open loop checked")

    res.put("latency_p50_ms", ref.p(0.50), "ms")
    res.put("latency_p90_ms", ref.p(0.90), "ms")
    val refP = loop.progress.in(_ == "ref")
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def perBatch(f: StreamingQueryProgress => Double): Seq[Double] = refP.map(f)
    val sinkByBatch = loop.sink.sinkMs.asScala.collect { case ("ref", id, ms) => id -> ms }.toMap

    def med(f: StreamingQueryProgress => Double) = Stats.median(perBatch(f))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      med(p => p.stateOperators.map(f).sum)
    res.put("sources.latestOffset_ms", med(dur(_, "latestOffset")), "ms")
    res.put("streaming.queryPlanning_ms", med(dur(_, "queryPlanning")), "ms")
    res.put("streaming.walCommit_ms", med(dur(_, "walCommit")), "ms")
    res.put("streaming.commitOffsets_ms", med(dur(_, "commitOffsets")), "ms")
    res.put("streaming.addBatch_ms", med(dur(_, "addBatch")), "ms")
    res.put("streaming.trigger_ms", med(dur(_, "triggerExecution")), "ms")
    res.put("sink.ms", Stats.median(sinkByBatch.values.toSeq), "ms")
    res.put("streaming.rows_per_batch", med(_.numInputRows.toDouble), "count")
    res.put("streaming.shuffle_write_bytes", refC.shuffleWrite.toDouble / refP.size, "bytes")
    res.put("streaming.busy_frac", refP.map(dur(_, "triggerExecution")).sum / (refWall * 1000), "ratio")
    res.put("streaming.backlog_max_events", ref.backlogMax.toDouble, "count")
    res.put("streaming.batches", refP.size.toDouble, "count")
    res.put("state.commit_ms", state(_.commitTimeMs.toDouble), "ms")
    res.put("state.update_ms", state(_.allUpdatesTimeMs.toDouble), "ms")
    res.put("state.removal_ms", state(_.allRemovalsTimeMs.toDouble), "ms")
    res.put("state.rows_total", refP.last.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
    res.put("state.memory_bytes", refP.last.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    res.put("state.rows_dropped_late", dropped.toDouble, "count")
    res.put("jvm.gc_ms", refC.gcMs.toDouble, "ms")
    res.put("api.submit_ms", loop.submitMs, "ms")
    res.put("gen.late_ms_max", ref.genLateMs.toDouble, "ms")
    res.put("streaming.latency_p99_ms", ref.p(0.99), "ms")
    res.put("streaming.drain_eps", DrainEvents / drainS, "events/s")
    // phase spans of the reference batches, laid out in execution order
    // on the nanoTime clock of the other spans
    val clock = System.nanoTime() - System.currentTimeMillis() * 1000000L
    refP.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + clock
      val end = start + (dur(p, "triggerExecution") * 1e6).toLong
      val batch = Trace.record("streaming", "trigger", start, end)
      var at = start
      Seq("latestOffset" -> "sources", "getBatch" -> "sources", "walCommit" -> "streaming",
        "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
        .foreach { case (k, layer) =>
          val d = (dur(p, k) * 1e6).toLong
          val id = Trace.record(layer, k, at, at + d, batch)
          if (k == "addBatch") {
            val stateNs = (p.stateOperators.map(s => s.commitTimeMs + s.allUpdatesTimeMs +
              s.allRemovalsTimeMs).sum * 1e6 / math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)).toLong
            Trace.record("state", "stateStore", at, at + math.min(d, stateNs), id)
            sinkByBatch.get(p.batchId).foreach { ms =>
              Trace.record("sink", "foreachBatch", at + d - (ms * 1e6).toLong, at + d, id)
            }
          }
          at += d
        }
    }
    // single-threaded baseline of the same drain
    ctx.probe.close()
    spark.stop()
    ctx.spark = GraftSession.local(1, "perfbench-1core")
    ctx.probe = new Probe(ctx.spark)
    GraftSession.forStreaming(ctx.spark, Events.Keys)
    // the JVM is warm: one drain, on the same backlog
    res.put("scale.drain_eps_1core", DrainEvents / drainOnce(ctx, ctx.spark, -WarmDrains - 1)._1, "events/s")
  }
}

object StreamWindow {
  /** The reference rate: about a tenth of what the drain sustains on four
    * shared cores, so the reference phase measures latency, not a backlog.
    */
  val RefRate = 20000.0
  val RefSettleS = 0.5
  val WarmupBatches = 5
  val QuiesceS = 10.0
  val FinalQuiesceS = 30.0
  val DrainFiles = 20
  val DrainPerFile = 30000
  val DrainEvents: Double = DrainFiles.toDouble * DrainPerFile
  val WarmDrains = 3
  val TimedDrains = 4
  /** Synthetic due time of the drain backlog (2024-01-01T00:00:00Z). */
  val DrainStartMs = 1704067200000L
}
