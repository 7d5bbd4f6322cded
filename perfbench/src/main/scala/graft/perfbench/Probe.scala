package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A point-in-time copy of the engine counters; subtract two to get what
  * happened in between.
  */
final case class Counters(jobs: Long, stages: Long, tasks: Long, cpuMs: Double,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          inputBytes: Long, planningMs: Double, gcMs: Long,
                          codegenMs: Double, jobWallMs: Double, recordsRead: Long) {
  private def zip(o: Counters, f: (Double, Double) => Double): Counters = Counters(
    f(jobs, o.jobs).toLong, f(stages, o.stages).toLong, f(tasks, o.tasks).toLong,
    f(cpuMs, o.cpuMs), f(shuffleRead, o.shuffleRead).toLong,
    f(shuffleWrite, o.shuffleWrite).toLong, f(spill, o.spill).toLong,
    f(inputBytes, o.inputBytes).toLong, f(planningMs, o.planningMs), f(gcMs, o.gcMs).toLong,
    f(codegenMs, o.codegenMs), f(jobWallMs, o.jobWallMs), f(recordsRead, o.recordsRead).toLong)
  def -(o: Counters): Counters = zip(o, _ - _)
  def +(o: Counters): Counters = zip(o, _ + _)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Reads Spark's public listener and query-execution events plus the
  * JVM's GC beans. Listener events arrive asynchronously, so [[snapshot]]
  * first drains the listener bus.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks, cpuNs, shufR, shufW, spill, inBytes, inRecords, planNs =
    new AtomicLong
  // wall time covered by at least one running job, for the driver gap
  private var running = 0
  private var busySince = 0L
  private var busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    synchronized {
      if (running == 0) busySince = e.time
      running += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busyMs += e.time - busySince
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inBytes.addAndGet(m.inputMetrics.bytesRead)
      inRecords.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def snapshot(): Counters = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val busy = synchronized {
      busyMs + (if (running > 0) System.currentTimeMillis() - busySince else 0L)
    }
    Counters(jobs.get, stages.get, tasks.get, cpuNs.get / 1e6, shufR.get, shufW.get,
      spill.get, inBytes.get, planNs.get / 1e6, Probe.gcMs(), Probe.codegenMs(), busy.toDouble,
      inRecords.get)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Total Janino compile time so far, from Spark's codegen histogram
    * (count × mean of its sample reservoir: exact until the reservoir
    * starts sampling, an estimate after).
    */
  def codegenMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean
  }

  /** Heap in use right after a full collection, in MB. A collection frees
    * what the previous one made unreachable only once reference processing
    * and Spark's context cleaner have run, so collect until two readings
    * agree within 1 MB (at most five times) and take the lowest.
    */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var low = prev
    var i = 1
    var done = false
    while (!done && i < 5) {
      val cur = collect()
      done = math.abs(cur - prev) < 1.0
      low = math.min(low, cur)
      prev = cur
      i += 1
    }
    low
  }
}

/** What the JVM's Java threads spent on a stretch of work. */
final case class Work(cpuS: Double, allocMb: Double)

/** CPU time and heap allocation of the JVM's Java threads over an interval:
  * the engine's own work (tasks, the driver, stream execution threads,
  * sinks). The JIT's compiler threads and the collector's threads are not
  * Java threads, so their CPU time, which varies from run to run while the
  * JIT warms up, is left out; so is time the hypervisor takes from the
  * virtual CPUs. A sampler reads every thread's CPU clock each `PollMs`, so
  * a thread that ends inside the interval still counts up to its last
  * sample. Allocation is the JVM's running total, which keeps what ended
  * threads allocated, less what the sampler itself allocated.
  */
final class JavaWork {
  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val base = read()
  private val alloc0 = mx.getTotalThreadAllocatedBytes
  private val last = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  @volatile private var running = true
  @volatile private var samplerAlloc = 0L
  private val sampler = new Thread(() => {
    while (running) {
      poll()
      Thread.sleep(JavaWork.PollMs)
    }
    samplerAlloc = mx.getCurrentThreadAllocatedBytes
  }, "perfbench-cpu-sampler")
  sampler.setDaemon(true)
  sampler.start()

  private def read(): Map[Long, Long] =
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  private def poll(): Unit = read().foreach { case (id, ns) => last.put(id, ns) }

  /** Stop sampling; what was spent since construction. */
  def stop(): Work = {
    running = false
    sampler.join()
    val alloc = mx.getTotalThreadAllocatedBytes - alloc0 - samplerAlloc
    poll()
    last.remove(sampler.getId)
    val cpu = last.asScala.map { case (id, ns) => ns - base.getOrElse(id, 0L) }.filter(_ > 0).sum
    Work(cpu / 1e9, alloc / 1048576.0)
  }
}

object JavaWork {
  val PollMs = 20L
  def measure[T](body: => T): (T, Work) = {
    val w = new JavaWork
    val out = try body catch { case e: Throwable => w.stop(); throw e }
    (out, w.stop())
  }
}
