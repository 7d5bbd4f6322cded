package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: per-JOB time breakdown for a SparkEntry query on the
  * `GraftSession.local` session that Bench, Verify and the tests run
  * (guide §1 "measure first" — before touching an operator, know
  * whether its wall-clock is one big job, many small jobs, or gaps
  * BETWEEN jobs, i.e. driver/planning/streaming-commit overhead the
  * stage metrics never show).
  *
  * Usage: runMain graft.tools.JobProfile <query> [query2 ...]
  *   [--sf=/root/testdata/sf0.1] [--runs=2]
  *
  * Each query runs `runs` times (first run builds the per-process
  * [[graft.Fixtures]] exactly like Bench's first repeat); every run
  * prints total wall, summed job time, job count, and the gap
  * (wall − Σjobs = driver-side planning + scheduling + streaming
  * commit overhead). The last run also prints the slowest jobs.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args.filterNot(_.startsWith("--")).toSeq
    require(names.nonEmpty, "JobProfile: pass at least one query name")
    val sf = args.find(_.startsWith("--sf="))
      .map(_.stripPrefix("--sf=")).getOrElse("/root/testdata/sf0.1")
    val runs = args.find(_.startsWith("--runs="))
      .map(_.stripPrefix("--runs=").toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.local(cpus, "jobprofile")
    spark.range(1000000).selectExpr("sum(id)")
      .write.format("noop").mode("overwrite").save()

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L)
    case class Stage(id: Int, name: String, tasks: Int, ms: Long,
                     maxTaskMs: Long, shuffleReadMB: Double, rows: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(0L)
        stages.put(si.stageId, Stage(si.stageId, si.name.takeWhile(_ != '\n'),
          si.numTasks, ms, 0L,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6,
          si.taskMetrics.outputMetrics.recordsWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to runs).foreach { r =>
        jobs.clear(); stages.clear()
        val t0 = System.nanoTime()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        val wallMs = (System.nanoTime() - t0) / 1e6
        Thread.sleep(200) // let the listener bus drain job-end events
        import scala.jdk.CollectionConverters._
        val js = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
        val jobMs = js.map(j => j.end - j.start).sum
        println(f"[$name run$r] wall=${wallMs}%.0fms jobs=${js.size} " +
          f"jobTime=${jobMs}ms gap=${wallMs - jobMs}%.0fms")
        if (r == runs) {
          js.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
            println(f"    job ${j.id}%4d ${j.end - j.start}%6dms  ${j.desc.take(110)}")
          }
          val ss = stages.values.asScala.toSeq.sortBy(-_.ms).take(15)
          ss.foreach { s =>
            println(f"    stage ${s.id}%4d ${s.ms}%6dms tasks=${s.tasks}%3d " +
              f"shufRead=${s.shuffleReadMB}%.1fMB  ${s.name.take(90)}")
          }
        }
      }
    }
    spark.stop()
  }
}
