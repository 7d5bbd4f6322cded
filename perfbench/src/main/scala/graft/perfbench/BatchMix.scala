package graft.perfbench

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.SparkEntry

/** `batch-mix`: 12 batch queries of `SparkEntry.queries` in seeded order at
  * sf 0.005. Four concurrent clients run the mix into the noop sink (cold);
  * then one client runs the timed pass, each query writing its
  * result as parquet, which `run.py` checks against DuckDB. `alloc_mb`,
  * `cpu_s` and `wall_s` are the timed pass's sums, `latency_p50_ms` and
  * `latency_p90_ms` are over its queries. Cached data is released and the
  * heap collected between queries, outside the timed region.
  */
final class BatchMix extends Workload {
  import BatchMix._

  /** The tables are staged by run.py before the JVM starts. */
  def stage(ctx: Ctx): Unit = ()

  /** Drop what the queries cached and collect, as `Bench` does between queries. */
  private def release(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
    System.gc()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.dir("data")
    val res = ctx.result
    val oracle = Queries.map(q => Json.str(q) + ":" + Json.str(SparkEntry.oracleSql(q)))
    Files.writeString(ctx.runDir.resolve("oracle.json"), oracle.mkString("{", ",", "}"))
    val rng = new scala.util.Random(ctx.seed)

    // cold pass: four concurrent clients run the mix into the noop sink,
    // compiling every plan and warming the JIT for the timed pass
    val c0 = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ColdClients)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(rng.shuffle(Queries)) { q =>
      Future {
        try Trace.span("ops", s"cold.$q")(SparkEntry.queries(q)(spark, data)
          .write.format("noop").mode("overwrite").save())
        catch { case e: Throwable => res.fail(s"$q (cold pass): $e") }
      }
    }, Duration.Inf)
    finally pool.shutdown()
    val cold = ctx.probe.snapshot() - c0
    Main.log(f"cold pass ${Stats.secs(t0)}%.2f s")
    res.attempted += Queries.size
    release(ctx)
    ctx.sampleHeap()

    // timed pass: one client materialises each result as parquet (checked
    // by run.py); the queries read their tables and write their results
    val timed = rng.shuffle(Queries).flatMap { q =>
      res.attempted += 1
      val c0 = ctx.probe.snapshot()
      val t0 = System.nanoTime()
      val out = try {
        val (_, work) = JavaWork.measure(Trace.span("ops", q) {
          Trace.span("sources", s"resolve.$q")(SparkEntry.queries(q)(spark, data))
            .write.mode("overwrite").parquet(ctx.dir(s"out/$q"))
        })
        val s = Stats.secs(t0)
        Main.log(f"$q%-24s $s%6.2f s ${work.cpuS}%6.2f CPU s ${work.allocMb}%7.1f MB")
        Some((q, s, ctx.probe.snapshot() - c0, work))
      } catch { case e: Throwable => res.fail(s"$q: $e"); None }
      release(ctx)
      out
    }
    ctx.sampleHeap()
    val queryMs = timed.map(_._2 * 1000)
    val wall = timed.map(_._2).sum
    val c = timed.map(_._3).foldLeft(Counters.zero)(_ + _)
    res.put("wall_s", wall, "s")
    res.put("alloc_mb", timed.map(_._4.allocMb).sum, "MB")
    res.put("cpu_s", timed.map(_._4.cpuS).sum, "s")
    res.put("latency_p50_ms", Stats.quantile(queryMs, 0.50), "ms")
    res.put("latency_p90_ms", Stats.quantile(queryMs, 0.90), "ms")
    if (ctx.trace) {
      timed.foreach { case (q, s, _, _) => res.put(s"ops.${q}_s", s, "s") }
      res.put("ops.jobs", c.jobs, "count")
      res.put("ops.stages", c.stages, "count")
      res.put("ops.tasks", c.tasks, "count")
      res.put("ops.executor_cpu_ms", c.cpuMs, "ms")
      res.put("ops.driver_gap_ms", wall * 1000 - c.jobWallMs, "ms")
      res.put("ops.shuffle_read_bytes", c.shuffleRead, "bytes")
      res.put("ops.shuffle_write_bytes", c.shuffleWrite, "bytes")
      res.put("ops.spill_bytes", c.spill, "bytes")
      res.put("sources.input_bytes", c.inputBytes, "bytes")
      res.put("plans.planning_ms", c.planningMs, "ms")
      res.put("jvm.gc_ms", c.gcMs, "ms")
      res.put("functions.codegen_ms", cold.codegenMs, "ms")
    }
  }
}

object BatchMix {
  val ColdClients = 4

  /** The rank / ScanLayout path (q78, q121, q199, q201, q215), the
    * PrefixSum sites (q59, q217, and rankBy under q78 and q201), the kernel
    * functions (q38, q45), and the reference's relational surface (q04,
    * q13, q22).
    */
  val Queries: Seq[String] = Seq("q04_wordcount", "q13_join_inner", "q22_sliding",
    "q78_shuffle_rank", "q121_groupwise_median", "q199_winsorize", "q201_quantile_bins",
    "q215_vocab_canonicalize", "q38_simhash", "q45_embedding_neardup", "q59_seq_packing",
    "q217_peak_sessions")
}
