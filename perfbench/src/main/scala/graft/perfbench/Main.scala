package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What a workload sees: the session, its run directory, the options and
  * the result it reports into.
  */
final class Ctx(val seed: Long, val seconds: Double, val trace: Boolean, val cores: Int,
                val runDir: Path, val result: Result) {
  var spark: SparkSession = _
  var probe: Probe = _
  def dir(name: String): String = runDir.resolve(name).toString
  /** Largest heap in use just after a full collection, in MB. */
  var heapLiveMb: Double = 0.0
  def sampleHeap(): Unit = heapLiveMb = math.max(heapLiveMb, Probe.liveHeapMb())
}

trait Workload {
  /** Input staging, on the session of each set-up round; the last one stays. */
  def stage(ctx: Ctx): Unit
  /** Warm up, measure, check; report into `ctx.result`. */
  def run(ctx: Ctx): Unit
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --run-dir <dir>`
  * on `local[<all cores>]`: starts the session and stages the workload's
  * inputs `SetupRounds` times (`setup_s` is the median round), runs
  * the workload, and writes `result.json` (and, traced, `spans.jsonl`) into
  * the run directory.
  */
object Main {
  val SetupRounds = 5

  /** A progress line for run.py to pass on, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1f s  $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val ctx = new Ctx(opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      GraftSession.defaultCores, runDir, new Result)
    Trace.enabled = ctx.trace
    Trace.runId = s"${opt("workload")}-${ctx.seed}"
    val workload: Workload = opt("workload") match {
      case "stream-window" => new StreamWindow
      case "batch-mix"     => new BatchMix
      case "corpus-admit"  => new CorpusAdmit
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      Option(ctx.spark).foreach { s => ctx.probe.close(); s.stop() }
      ctx.spark = GraftSession.local(ctx.cores, "perfbench")
      ctx.probe = new Probe(ctx.spark)
      val start = Stats.secs(t0)
      workload.stage(ctx)
      (start, Stats.secs(t0))
    }
    log(s"set-up rounds ${rounds.map { case (st, all) => f"$all%.2f s (start $st%.2f s)" }.mkString(", ")}")
    ctx.result.put("setup_s", Stats.median(rounds.map(_._2)), "s")
    val gc0 = Probe.gcMs()
    try workload.run(ctx)
    catch { case e: Throwable =>
      e.printStackTrace()
      ctx.result.fail(s"${opt("workload")} aborted: $e")
    }
    if (ctx.heapLiveMb == 0.0) ctx.sampleHeap()
    ctx.result.put("heap_live_mb", ctx.heapLiveMb, "MB")
    if (ctx.trace) {
      if (!ctx.result.has("jvm.gc_ms")) ctx.result.put("jvm.gc_ms", (Probe.gcMs() - gc0).toDouble, "ms")
      Trace.selfMs.foreach { case (layer, ms) => ctx.result.put(s"$layer.self_ms", ms, "ms") }
      Trace.write(runDir.resolve("spans.jsonl"))
    }
    Files.writeString(runDir.resolve("result.json"), ctx.result.toJson)
    ctx.spark.stop()
    log("done")
  }
}
