package graft

/** Driver-run benchmark: every SparkEntry query, fully materialized via the
  * noop sink (a bare count() would let Catalyst prune computed columns and
  * under-measure). Output: a full-diagnostics JSON line followed by a
  * compact spec JSON line — the LAST line is sized to survive the driver's
  * 2000-char output retention whole (see layout comments below).
  *
  * Each query runs `SPARK_GRAFT_BENCH_RUNS` times (default 3) and reports
  * the median — a single-shot run is dominated by machine-load noise (a
  * byte-identical build measured 42.8 s and 74.3 s on consecutive rounds);
  * median-of-3 keeps back-to-back totals within ~10%. All per-repeat times
  * are also emitted (run order) so a sustained interference window on the
  * shared box is diagnosable from the artifact alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = graft.core.GraftSession.local(cpus, "bench")
    // Warm the JVM, codegen cache and parquet footer reads so the first
    // timed query doesn't absorb session startup.
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    graft.sources.Tables(spark, sfDir).lineitem.write.format("noop").mode("overwrite").save()
    // A failed run must fail LOUDLY — recording the elapsed time of a
    // broken query would masquerade as a suspiciously fast measurement.
    // Per-query: first failure aborts that query's remaining runs, its
    // entry lands in "errors" (not "queries"), and the process exits 1.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // SPARK_GRAFT_BENCH_ONLY=q37_minhash_pairs,q52_ngram_jaccard restricts
    // the run — for focused median-of-N re-measurement of a regression
    // suspect without paying the full suite per sample
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name silently benching NOTHING would masquerade as a clean
    // 0-second run — fail loudly instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    // Queries run in a SEEDED PSEUDO-RANDOM order, not alphabetical: a
    // sustained interference window on the shared box used to land on a
    // contiguous alphabetical block (r6's q65–q75, r8's q71–q79) and
    // masquerade as a correlated regression of neighboring operators.
    // Shuffling spreads any such window across unrelated names, so a fake
    // block can't form; cross-round per-query comparison is unaffected
    // (it keys on the name dicts, not position). The seed is emitted in
    // the JSON ("order_seed") so the exact run order is reconstructible.
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val results = new scala.util.Random(seed)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      (1 to runs).foreach { _ =>
        if (!failed) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            times += (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            failed = true
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            System.err.println(s"[bench] $name failed: $msg")
            // nextOption: an empty message has an empty linesIterator, and
            // throwing inside this handler would kill the whole bench
            errors(name) = msg.linesIterator.nextOption()
              .getOrElse(e.getClass.getName).take(200)
          }
        }
      }
      // Harness fidelity (r14 verdict #2: the official capture inflated
      // the two most memory-heavy queries 2-3x over their isolated
      // medians, with the order seed deciding who ate the accumulated
      // pressure): drop whatever the finished query left in the block
      // manager — localCheckpoint RDDs pin partitions until the driver
      // GCs the RDD object, and 253 queries' worth of them compound —
      // and clear any cached relations, so every query starts from the
      // isolated-memory state its cross-round comparison assumes. The
      // run order stays randomized; the diag line's "repeats" dict is
      // emitted IN RUN ORDER, which is what makes any residual pressure
      // artifact attributable from the artifact alone.
      // BLOCKING on purpose: a lazy unpersist would execute its block
      // removals inside the NEXT query's timed region — the cleanup
      // must finish in the untimed gap between queries. The explicit GC
      // likewise pays for the dead query's garbage here instead of as
      // a pause in the middle of a later query's micro-batches.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      if (failed) None else Some(name -> times.toSeq)
    }
    // The driver retains EXACTLY the last 2000 chars of combined output
    // (measured: every BENCH_r0N.json tail is len==2000), and sbt's
    // trailing "[success] Total time: ..." line spends ~110 of them. A
    // single long JSON line therefore NEVER survives intact — all eight
    // rounds so far have parsed:null in the driver artifact. Layout that
    // follows from this one figure: full diagnostics (per-repeat times,
    // full-name medians, slow-query spreads) go on EARLIER lines that may
    // be front-truncated, and the LAST line is a self-contained,
    // spec-compliant compact JSON line (~1550 chars at 121 queries with
    // qNN keys) that fits the window whole.
    // Locale.ROOT: the default-locale `f` interpolator can emit a comma
    // decimal separator, which is not JSON
    val medians = results.map { case (k, ts) => k -> ts.sorted.apply(ts.length / 2) }
    // name dicts sorted by name (run order is shuffled) so cross-round
    // per-query comparison stays position-stable
    val qs = medians.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // Per-repeat times IN RUN ORDER (the shuffled order), so a sustained
    // interference window on the box (the BENCH_r06 q65–q75 block: a
    // contiguous run 4–7× slower while neighbors were flat) is visible in
    // the artifact itself instead of needing an out-of-band re-measure.
    // Placed on the FIRST (most truncatable) line with the other
    // diagnostics — the 2000-char retention window is spent on the
    // compact final line instead.
    val reps = results.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(r2).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // full control-char escaping (graft.core.JsonText) — a tab in a Spark
    // analysis error would otherwise break the driver's json.load and
    // lose the round's measurements
    val errs = errsJson(errors.toSeq)
    // Three lines, least→most important (the 2000-char window reads from
    // the end):
    //  line 1 — full diagnostics: per-repeat times, full-name medians,
    //    [min,med,max] spreads for the 10 slowest (the interference
    //    diagnostic: the r6/r7 anomaly blocks were adjudicable only via
    //    out-of-band re-measure because this evidence was truncated away).
    //    Usually front-truncated; recoverable from a manual run.
    //  line 2 — nothing else: line 1 and line 3 cover it.
    //  line 3 (LAST) — the spec line {"metric","value","unit","queries",
    //    "sf"} with compact qNN keys at 2 dp: ~1550 chars at 121 queries,
    //    whole inside the retention window even with sbt's ~110-char
    //    trailer, so the driver can finally json-parse a complete line
    //    and per-query cross-round comparison never loses entries.
    val slow = medians.sortBy(-_._2).take(10).map(_._1).toSet
    val slowJson = results.filter { case (k, _) => slow(k) }
      .map { case (k, ts) =>
        val s = ts.sorted
        "\"" + k + "\":[" + Seq(s.head, s(s.length / 2), s.last).map(r2).mkString(",") + "]"
      }.mkString("{", ",", "}")
    println(s"""{"diag":"full","repeats":$reps,"queries":$qs,"slow":$slowJson,"order_seed":$seed}""")
    println(renderFinalLine(medians, errs, sfDir))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  private def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def r2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def r1(v: Double): String = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  private[graft] def errsJson(errors: Seq[(String, String)]): String =
    errors.map { case (k, v) =>
      graft.core.JsonText.quote(k) + ":" + graft.core.JsonText.quote(v)
    }.mkString("{", ",", "}")

  /** The LAST stdout line — the driver contract's one JSON line. Pure
    * function of the medians so BenchFormatSpec can pin, against the
    * REAL declared query set, that it parses as one complete JSON
    * object with every query accounted for (r14's round went dark when
    * the official capture couldn't parse the bench output; this is the
    * regression fence).
    */
  private[graft] def renderFinalLine(medians: Seq[(String, Double)],
                                     errs: String, sfDir: String): String = {
    val total = medians.map(_._2).sum
    def specLine(fmt: Double => String): String = {
      val compact = medians.sortBy(_._1).map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compact,"sf":"$sfDir","errors":$errs,"n_queries":${medians.size},"total_sec":${r3(total)}}"""
    }
    // 1850-char budget: 2000-char retention minus sbt's ~110-char
    // trailer and slack. 2 dp fits ~150 queries; past that, fall back
    // to 1 dp (~0.05 s median error — cross-round comparison noise
    // floor is far above that) rather than letting the line silently
    // outgrow the window again.
    // Final fallback past ~165 queries (1 dp ~1810 chars at 161): keep
    // per-query detail only for medians >= 0.05 s and report how many
    // sub-noise entries were folded into "fast_sum" — the driver still
    // parses a complete JSON line and every nontrivial query stays
    // individually comparable across rounds. (At 253 queries this is
    // the arm that emits, and since r15 the driver demonstrably parses
    // it whole — BENCH_r15.json's `parsed` carries all 253 names.)
    def slowOnlyLine: String = {
      val (slowM, fastM) = medians.partition(_._2 >= 0.05)
      val compact = slowM.sortBy(_._1).map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + r1(v)
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compact,"fast_omitted":${fastM.size},"fast_sum":${r2(fastM.map(_._2).sum)},"sf":"$sfDir","errors":$errs,"n_queries":${medians.size},"total_sec":${r3(total)}}"""
    }
    val line2 = specLine(r2)
    val line1dp = specLine(r1)
    if (line2.length <= 1850) line2
    else if (line1dp.length <= 1850) line1dp
    else slowOnlyLine
  }
}
