package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

import graft.EntryHelpers
import graft.core.{Catalog, TempDirs}
import graft.ops.Admission

/** `corpus-admit`: one closed-loop client admits ascending-id document
  * batches into a [[Catalog]] (screen + ingest; every `SavepointEvery`-th
  * batch also pins a savepoint) and issues reads between writes: current
  * answers through `Catalog.readAll`, and time-travel answers of an earlier
  * savepoint through `Catalog.readAt`. The corpus is the admission gates'
  * recipe: every non-bench document plus a planted echo (+100000 ids) of
  * each; the bench set is the `doc_id % 50 == 0` documents. `alloc_mb`,
  * `cpu_s` and `wall_s` cover the whole run; `latency_p50_ms` / `latency_p90_ms` are
  * over the reads.
  */
final class CorpusAdmit extends Workload {
  import CorpusAdmit._

  private def catalog(ctx: Ctx) = ctx.dir("catalog")

  /** The documents are staged by run.py; this builds the empty catalog. */
  def stage(ctx: Ctx): Unit = {
    TempDirs.deleteRecursively(Paths.get(catalog(ctx)))
    val (corpus, _) = EntryHelpers.admissionCorpus(ctx.spark, ctx.dir("data"))
    EntryHelpers.admissionInit(catalog(ctx), corpus)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.result
    val base = catalog(ctx)
    val (corpus, bench) = EntryHelpers.admissionCorpus(spark, ctx.dir("data"))
    val nDocs = graft.sources.Tables(spark, ctx.dir("data")).documents.count()
    val cuts = (0 until Batches / 2).map(i => i * nDocs / (Batches / 2))
    val bounds = (cuts ++ cuts.map(_ + EchoOffset)) :+ Long.MaxValue
    val reads = Seq.newBuilder[String]
    val ingestMs, savepointMs, readMs, readAtMs, manifestMs =
      collection.mutable.ArrayBuffer.empty[Double]
    var writeC, readC = Counters.zero
    var savepoints = Vector.empty[(String, Int)]

    def timed[T](c: Counters => Unit, ms: Double => Unit)(body: => T): T = {
      val c0 = ctx.probe.snapshot()
      val t0 = System.nanoTime()
      val out = body
      ms(Stats.secs(t0) * 1000)
      c(ctx.probe.snapshot() - c0)
      out
    }
    def answers(stores: Map[String, org.apache.spark.sql.DataFrame]): String =
      EntryHelpers.admissionAnswersFrom(stores).collect()
        .map(r => (0 until r.length).map(i => r.get(i) match {
          case s: String => Json.str(s)
          case v => v.toString
        }).mkString("[", ",", "]")).mkString("[", ",", "]")

    val t0 = System.nanoTime()
    val (_, work) = JavaWork.measure {
      bounds.indices.dropRight(1).foreach { b =>
        val batch = corpus.where(col("doc_id") >= bounds(b) && col("doc_id") < bounds(b + 1))
        timed(writeC += _, ingestMs += _) {
          Trace.span("core", s"admit.$b") {
            Admission.ingest(spark, base, b.toLong, Admission.screen(spark, base, "fps", batch,
              col("doc_id"), col("text"), bench, col("doc_id"), col("text"), n = 3, threshold = 0.3),
              EntryHelpers.admissionFolds)
          }
        }
        if (b % SavepointEvery == SavepointEvery - 1) {
          val name = s"sp$b"
          timed(writeC += _, savepointMs += _)(Trace.span("core", "Catalog.savepoint")(
            Catalog.savepoint(spark, base, name)))
          savepoints :+= (name -> b)
        }
        timed(_ => (), manifestMs += _)(Trace.span("core", "Catalog.gens")(Catalog.gens(spark, base)))
        (1 to ReadsPerWrite).foreach { i =>
          // a fixed schedule: once a savepoint exists, every `ReadAtEvery`-th
          // read is a time-travel read, of the savepoints in turn
          if (savepoints.nonEmpty && i % ReadAtEvery == 0) {
            val (name, at) = savepoints(readAtMs.size % savepoints.size)
            val a = timed(readC += _, readAtMs += _)(Trace.span("core", "Catalog.readAt")(
              answers(Catalog.readAt(spark, base, name))))
            reads += s"""{"kind":"readAt","batch":$at,"rows":$a}"""
          } else {
            val a = timed(readC += _, readMs += _)(Trace.span("core", "Catalog.readAll")(
              answers(Catalog.readAll(spark, base))))
            reads += s"""{"kind":"read","batch":$b,"rows":$a}"""
          }
        }
      }
    }
    val wall = Stats.secs(t0)
    Main.log(f"admit run $wall%.2f s (${work.cpuS}%.2f CPU s, ${work.allocMb}%.0f MB): ${ingestMs.size} admits, ${savepointMs.size} savepoints, ${readMs.size} reads, ${readAtMs.size} readAt reads")

    val readLines = reads.result()
    Files.write(ctx.runDir.resolve("reads.jsonl"), readLines.mkString("\n").getBytes("UTF-8"))
    // The admitted set of an ascending-id prefix is the whole corpus's
    // admitted set cut at the prefix bound (a fingerprint class's minimum
    // id is in the prefix or the class is absent from it), so one oracle
    // run serves every ledger batch.
    val admitted = EntryHelpers.admissionOraclePrefixOver(EntryHelpers.admissionCorpusSql)
      .replace("/*EXTRA*/", "") + "\nSELECT * FROM a"
    val cutAt = bounds.indices.dropRight(1).map(b => s""""$b":${bounds(b + 1)}""")
    Files.writeString(ctx.runDir.resolve("oracle_admit.json"),
      s"""{"admitted":${Json.str(admitted)},"answers":${Json.str(EntryHelpers.admissionStatsTail)},""" +
        s""""bounds":${cutAt.mkString("{", ",", "}")}}""")
    res.attempted += ingestMs.size + savepointMs.size + readLines.size

    val writes = (ingestMs ++ savepointMs).toSeq
    val allReads = (readMs ++ readAtMs).toSeq
    res.put("wall_s", wall, "s")
    res.put("alloc_mb", work.allocMb, "MB")
    res.put("cpu_s", work.cpuS, "s")
    res.put("latency_p50_ms", Stats.quantile(allReads, 0.50), "ms")
    res.put("latency_p90_ms", Stats.quantile(allReads, 0.90), "ms")
    if (ctx.trace) {
      res.put("core.write_p50_ms", Stats.quantile(writes, 0.50), "ms")
      res.put("core.ingest_ms", Stats.median(ingestMs.toSeq), "ms")
      res.put("core.savepoint_ms", Stats.median(savepointMs.toSeq), "ms")
      res.put("core.jobs_per_write", writeC.jobs.toDouble / writes.size, "count")
      res.put("core.shuffle_write_bytes_per_write", writeC.shuffleWrite.toDouble / writes.size, "bytes")
      res.put("core.read_ms", Stats.median(readMs.toSeq), "ms")
      res.put("core.readAt_ms", Stats.median(readAtMs.toSeq), "ms")
      res.put("core.manifest_ms", Stats.median(manifestMs.toSeq), "ms")
      res.put("core.jobs_per_read", readC.jobs.toDouble / allReads.size, "count")
      // generation ids start at -1 (the init), so a store has written id + 2
      res.put("core.generations", Catalog.gens(spark, base).values.map(_ + 2).sum.toDouble, "count")
      res.put("core.store_bytes", Files.walk(Paths.get(base)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum.toDouble, "bytes")
    }
    TempDirs.deleteRecursively(Paths.get(base))
  }
}

object CorpusAdmit {
  /** Half the batches carry originals, half their echoes. */
  val Batches = 4
  val SavepointEvery = 2
  val ReadsPerWrite = 3
  val ReadAtEvery = 3
  val EchoOffset = 100000L
}
