package graft.tools

import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Single-node throughput vs the reference's published scenarios
  * (reference: docs/realistic_benchmarking.md — scenario 1 Map→Filter,
  * scenario 2 KeyBy→Window(10s)→Agg; expected 10K–50K rec/s/core, 45K
  * rec/s illustrative whole-node, ~100-byte records).
  *
  * Batch-mode measurement over generated records of the documented
  * benchmark schema (id BIGINT, value BIGINT, timestamp TIMESTAMP —
  * realistic_benchmarking.md:111-117), fully materialized via noop.
  */
object ThroughputBench {
  /** `body`'s result and the wall seconds it took. */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val x = body
    (x, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(50000000L)
    // optional scenario filter, e.g. "6" runs only scenario 6
    val only: Set[Int] = args.lift(1).map(_.split(",").map(_.toInt).toSet).getOrElse(Set.empty)
    def enabled(i: Int): Boolean = only.isEmpty || only(i)
    val spark = GraftSession.local(appName = "throughput")
    import spark.implicits._

    // benchmark record stream: event times spread over ~14 hours
    def records = spark.range(n).select(
      col("id"),
      (xxhash64(col("id")) % 1000).as("value"),
      timestamp_millis(lit(1704067200000L) + col("id") % 50000000L).as("ts"))

    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$label: $s%.2f s  ->  ${n / s / 1e6}%.1f M rec/s")
    }

    // warmup
    spark.range(1000000).select(sum(col("id"))).write.format("noop").mode("overwrite").save()

    // scenario 1: Map -> Filter (stateless chain)
    if (enabled(1)) time("scenario1 map+filter") {
      records
        .withColumn("mapped", col("value") * 2 + 1)
        .where(col("mapped") % 7 =!= 0)
        .write.format("noop").mode("overwrite").save()
    }

    // scenario 2: KeyBy -> TumblingWindow(10s) -> Agg (stateful chain)
    if (enabled(2)) time("scenario2 keyby+window+agg") {
      records
        .groupBy(window(col("ts"), "10 seconds"), col("value") % 100)
        .agg(count(lit(1)), sum(col("value")))
        .write.format("noop").mode("overwrite").save()
    }

    // scenario 4 (north-star): MinHash-LSH dedup over a synthetic corpus
    // with planted near-dups — evidence the candidate generation stays
    // ~linear in corpus size, not quadratic
    if (enabled(4)) for (nDocs <- Seq(20000, 80000)) {
      val vocabSize = 5000
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        // 40 pseudo-random words; every 100th doc duplicates its
        // predecessor's content (planted near-dup)
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.sequence(lit(0), lit(39)),
            i => concat(lit("w"), pmod(xxhash64((col("id") - when(col("id") % 100 === 99, 1L).otherwise(0L)) * 40 + i), lit(vocabSize)))),
          " ").as("text"))
      val t0 = System.nanoTime()
      val nPairs = graft.ops.Dedup.minhashLsh(docs,
        col("doc_id"), col("text"), threshold = 0.8).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario4 lsh-dedup n=$nDocs: $s%.2f s, $nPairs pairs (${nDocs / 100} planted)")
    }

    // scenario 5 (north-star): banded hyperplane-LSH embedding near-dup
    // over synthetic 64-dim vectors with planted near-dups (every 50th
    // vector gets a ±1% perturbed copy) — evidence the banded candidate
    // generation stays ~linear in corpus size and recall stays exact
    if (enabled(5)) for (nVecs <- Seq(20000, 80000)) {
      val base = spark.range(nVecs).select(
        col("id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(xxhash64(col("id") * 64 + d), lit(2000)) - 1000.0) / 1000.0).as("v"))
      val planted = base.where(col("id") % 50 === 0)
        .select((col("id") + 100000000L).as("id"),
          transform(col("v"), (x, i) => x * (lit(1.0) + lit(0.01) * (i % 3 - 1))).as("v"))
      val corpus = base.union(planted)
      val t0 = System.nanoTime()
      val nPairs = graft.ops.Similarity.cosineNearDupPairs(corpus,
        col("id"), col("v"), dim = 64, bands = 8, rowsPerBand = 16,
        threshold = 0.95).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario5 embedding-neardup n=$nVecs: $s%.2f s, $nPairs pairs (${nVecs / 50} planted)")
    }

    // scenario 6: pathological single-hot-key join — 50% of fact rows on
    // one key. Compares a plain shuffle join against Joins.saltedJoin with
    // broadcast disabled (the 100 TB regime where the dim side is too big
    // to broadcast) and AQE's skew splitter off, then plain-with-AQE-skew
    // for honesty about what the engine already handles. The salt should
    // flatten the straggler task that otherwise serializes half the fact.
    if (enabled(6)) {
      val factN = 20000000L
      val fact = spark.range(factN).select(
        col("id"),
        when(col("id") % 2 === 0, 0L).otherwise(pmod(col("id"), lit(1000L))).as("k"),
        (col("id") % 97).as("payload"))
      val dim = spark.range(1000).select(
        col("id").as("k"), concat(lit("dim"), col("id")).as("name"))
      def runJoin(label: String, skewedAqe: Boolean)(join: => org.apache.spark.sql.DataFrame): Unit = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewedAqe)
        val t0 = System.nanoTime()
        join.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"scenario6 $label: $s%.2f s")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", true)
      }
      runJoin("hotkey-join plain (no AQE skew)", skewedAqe = false) {
        fact.join(dim, "k")
      }
      runJoin("hotkey-join salted b=32 (no AQE skew)", skewedAqe = false) {
        graft.ops.Joins.saltedJoin(fact, dim, fact("k"), dim("k"),
          saltCols = Seq(fact("id")), buckets = 32)
      }
      runJoin("hotkey-join plain (AQE skew on)", skewedAqe = true) {
        fact.join(dim, "k")
      }
    }

    // scenario 7: sequence packing at 20M docs — the two-phase prefix sum
    // must scale like one narrow shuffle, and the result must be the exact
    // global cumsum (spot-checked via total tokens and max bin)
    if (enabled(7)) for (nDocs <- Seq(5000000L, 20000000L)) {
      val docs = spark.range(nDocs).select(col("id"), (col("id") % 400 + 50).as("n_tok"))
      val t0 = System.nanoTime()
      val stats = graft.ops.Packing.packSequences(docs, col("id"), col("n_tok"), 2048)
        .agg(sum(col("n_tok")), max(col("bin"))).collect()(0)
      val s = (System.nanoTime() - t0) / 1e9
      val totalTok = stats.getLong(0); val maxBin = stats.getLong(1)
      // per 400-cycle: sum(0..399) + 400*50 = 79800 + 20000 (nDocs % 400 == 0)
      val expectTok = nDocs / 400 * 99800L
      println(f"scenario7 seq-packing n=$nDocs: $s%.2f s, ${totalTok / 1e9}%.2f B tokens, ${maxBin + 1} bins" +
        (if (totalTok == expectTok && maxBin == (totalTok - 1) / 2048) ", exact" else ", MISMATCH"))
    }

    // scenario 8: connected components over a 1M-node pair graph (200k
    // chains of 5 nodes — diameter 4 forces several propagation rounds);
    // evidence the label iteration converges in O(diameter) rounds with
    // per-round shuffles of (id, label) pairs only
    if (enabled(8)) {
      val nodes = 1000000L
      val pairs = spark.range(nodes).where(col("id") % 5 =!= 4)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val t0 = System.nanoTime()
      val cc = graft.ops.Clusters.connectedComponents(pairs, col("id_a"), col("id_b"))
      val nClusters = cc.select(col("cluster")).distinct().count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario8 connected-components n=$nodes: $s%.2f s, $nClusters clusters" +
        (if (nClusters == nodes / 5) " (exact)" else " (MISMATCH)"))
    }

    // scenario 9: salient terms under a Zipfian vocabulary — the stopword
    // regime where a term-keyed tf⋈df join puts ~every doc's top-token row
    // in one partition. Tokens are log-uniform over a 50k vocabulary
    // (rank-1 term lands in ~90% of docs), so the hot partition is real.
    // Compares the naive all-cold join (cutoff = MaxValue) against the
    // hot/cold split; row counts must agree (the split is result-identical
    // — PipelineOpsSpec asserts value equality, this measures the skew).
    if (enabled(9)) {
      val nDocs = 1000000L
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(39)), i =>
          concat(lit("w"), floor(pow(lit(50000.0),
            pmod(xxhash64(col("id") * 40 + i), lit(1000000L)) / lit(1000000.0)))
            .cast("long"))), " ").as("text"))
      def run(label: String, cutoff: Long): Long = {
        val t0 = System.nanoTime()
        val rows = graft.ops.TextAnalysis.salientTerms(
          docs, col("doc_id"), col("text"), 5, cutoff).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"scenario9 salient-zipf $label: $s%.2f s, $rows rows")
        rows
      }
      val a = run("all-cold naive term join", Long.MaxValue)
      val b = run("hot/cold split cutoff=10k", 10000L)
      println(s"scenario9 rows ${if (a == b) "agree" else s"MISMATCH ($a vs $b)"}")
    }

    // scenario 10: REAL PNG decode throughput — encode the corpus to
    // parquet once (not timed), then measure the pure ImageIO
    // decode+feature pass over the stored binary column, the shape of a
    // production decode job over a media lake
    if (enabled(10)) {
      val nImgs = 200000L
      val dir = java.nio.file.Files.createTempDirectory("graft_media_tp").toString
      graft.ops.Multimodal.syntheticPngMediaFor(
          spark.range(nImgs).as[Long](org.apache.spark.sql.Encoders.scalaLong))
        .write.mode("overwrite").parquet(dir)
      val media = spark.read.parquet(dir)
        .as[graft.ops.Multimodal.MediaRecord](
          org.apache.spark.sql.Encoders.product[graft.ops.Multimodal.MediaRecord])
      val t0 = System.nanoTime()
      val decoded = graft.ops.Multimodal.decodeImages(media, dim = 16).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario10 png-decode n=$nImgs: $s%.2f s -> ${decoded / s / 1e3}%.1f K img/s" +
        (if (decoded == nImgs) " (all decoded)" else s" (MISMATCH: $decoded)"))
    }

    // scenario 11: substring dedup over a corpus with planted boilerplate —
    // every 100th doc carries the same 12-token span in a 40-token doc;
    // detection must stay ~linear in corpus tokens (the exchange carries
    // gram-fingerprint triples, never text) and find exactly one maximal
    // span per planted doc (no chance 8-gram collisions at this vocab)
    if (enabled(11)) for (nDocs <- Seq(100000L, 400000L)) {
      val vocab = 5000
      def w(i: org.apache.spark.sql.Column) =
        concat(lit("w"), pmod(xxhash64(col("id") * 40 + i), lit(vocab)))
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        array_join(
          when(col("id") % 100 === 0,
            concat(
              transform(sequence(lit(0), lit(13)), i => w(i)),
              transform(sequence(lit(0), lit(11)), i => concat(lit("bp"), i)),
              transform(sequence(lit(14), lit(27)), i => w(i))))
            .otherwise(transform(sequence(lit(0), lit(39)), i => w(i))),
          " ").as("text"))
      val t0 = System.nanoTime()
      val spans = graft.ops.SpanDedup.duplicateSpans(
        docs, col("doc_id"), col("text"), n = 8).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario11 span-dedup n=$nDocs: $s%.2f s, $spans spans" +
        (if (spans == nDocs / 100) " (exact)" else s" (MISMATCH: expected ${nDocs / 100})"))
    }

    // scenario 12: global shuffle rank at 10M keys — the distributed
    // two-phase rank vs the naive global row_number window (whole dataset
    // sorted into ONE task). Checksums must agree (same permutation);
    // the wall-clock gap is the single-partition pathology the operator
    // exists to avoid
    if (enabled(12)) {
      import org.apache.spark.sql.expressions.Window
      val nRows = 10000000L
      val rows = spark.range(nRows).select(col("id"))
      def checksum(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(col("shuffle_rank") * pmod(col("key"), lit(97)))).head().getLong(0)
      val t0 = System.nanoTime()
      val distCk = checksum(graft.ops.Sampling.shuffleRank(rows, col("id")))
      val sDist = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val naiveCk = checksum(rows.select(col("id").as("key"),
        row_number().over(Window.orderBy(md5(col("id").cast("string")), col("id")))
          .cast("long").as("shuffle_rank")))
      val sNaive = (System.nanoTime() - t1) / 1e9
      println(f"scenario12 shuffle-rank n=$nRows: two-phase $sDist%.2f s vs naive global window $sNaive%.2f s" +
        (if (distCk == naiveCk) " (checksums agree)" else s" (MISMATCH: $distCk vs $naiveCk)"))
    }

    // scenario 13: fixed-point PageRank over a 2M-edge graph, 10
    // iterations — evidence the per-iteration cost is edge-bounded
    // ((node, contribution) pairs through one partial-agg groupBy), and
    // the fixed-point result is reproducible (checksum printed)
    if (enabled(13)) {
      val nEdges = 2000000L
      val edges = spark.range(nEdges).select(
        pmod(xxhash64(col("id")), lit(200000L)).as("s"),
        pmod(xxhash64(col("id") + 777), lit(200000L)).as("t"),
        (col("id") % 9 + 1).as("w"))
      val t0 = System.nanoTime()
      val ck = graft.ops.Graphs.pagerank(edges, col("s"), col("t"), col("w"), iters = 10)
        .agg(sum(col("rank_fp") * pmod(col("v"), lit(97)))).head().getLong(0)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario13 pagerank edges=$nEdges iters=10: $s%.2f s, checksum $ck")
    }

    // scenario 14: persisted IVF-PQ index over 1M 64-dim vectors —
    // measures build (assign + residual-encode + write), query latency
    // over the pruned code files, and the on-disk compression vs the raw
    // vectors the IvfIndex form would store
    if (enabled(14)) {
      val nVecs = 1000000L
      val vecs = spark.range(nVecs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(xxhash64(col("id") * 64 + d), lit(2000)) - 1000.0) / 1000.0).as("v"))
      val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_tp").toString + "/idx"
      val rawDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_tp").toString + "/raw"
      val t0 = System.nanoTime()
      graft.ops.IvfPqIndex.build(vecs, col("vec_id"), col("v"),
        nCells = 64, dir, m = 8, ksub = 16)
      val sBuild = (System.nanoTime() - t0) / 1e9
      vecs.write.mode("overwrite").parquet(rawDir)
      def dirBytes(d: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(d))
      }
      val t1 = System.nanoTime()
      val rows = graft.ops.IvfPqIndex.query(spark, dir,
        vecs.where(col("vec_id") < 8), col("vec_id"), col("v"),
        k = 10, nProbe = 8).count()
      val sQuery = (System.nanoTime() - t1) / 1e9
      println(f"scenario14 ivfpq-index n=$nVecs: build $sBuild%.2f s, " +
        f"query(8q,probe8) $sQuery%.2f s ($rows rows), " +
        f"codes ${dirBytes(dir) / 1e6}%.1f MB vs raw ${dirBytes(rawDir) / 1e6}%.1f MB " +
        f"(${dirBytes(rawDir).toDouble / dirBytes(dir)}%.1f x)")
    }

    // scenario 15: fixed-point k-means over 1M 64-dim vectors — the
    // corpus never shuffles (broadcast-argmin assignment, k·dim-bounded
    // update exchanges); wall should scale with iterations × one corpus
    // pass. Checksum over assignments proves run-to-run determinism.
    if (enabled(15)) {
      val nVecs = 1000000L
      val vecs = spark.range(nVecs).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(xxhash64(col("id") * 64 + d), lit(2000)) - 1000.0) / 1000.0).as("v"))
      def fitAssignChecksum(iters: Int): (Long, Double) = {
        val t0 = System.nanoTime()
        val cents = graft.ops.KMeans.fit(vecs, col("vec_id"), col("v"),
          k = 64, iters = iters)
        val ck = graft.ops.KMeans.assign(vecs, col("vec_id"), col("v"), cents)
          .agg(sum(col("cell") * pmod(col("id"), lit(97)))).head().getLong(0)
        (ck, (System.nanoTime() - t0) / 1e9)
      }
      val (ck2, s2) = fitAssignChecksum(2)
      val (ck4, s4) = fitAssignChecksum(4)
      val (ck2b, _) = fitAssignChecksum(2)
      require(ck2 == ck2b, s"k-means not deterministic: $ck2 vs $ck2b")
      println(f"scenario15 kmeans n=$nVecs k=64: 2 iters $s2%.2f s, " +
        f"4 iters $s4%.2f s (per-extra-iter ${(s4 - s2) / 2}%.2f s), " +
        f"checksum $ck2 reproducible")
    }

    // scenario 16: Z-order layout pruning — 10M rows over two independent
    // uniform dims written z-ordered vs linearly sorted, then a box
    // predicate on BOTH dims. The scan node's numOutputRows counts rows
    // MATERIALIZED from parquet (after pushed-filter row-group/page
    // skipping) — the quantity the layout exists to shrink.
    if (enabled(16)) {
      val nRows = 10000000L
      val data = spark.range(nRows).select(
        pmod(xxhash64(col("id")), lit(65536L)).as("a"),
        pmod(xxhash64(col("id") + 424242L), lit(65536L)).as("b"))
      val zDir = java.nio.file.Files.createTempDirectory("graft_z16").toString + "/z"
      val linDir = java.nio.file.Files.createTempDirectory("graft_z16").toString + "/lin"
      val t0 = System.nanoTime()
      graft.ops.Layout.zorderWrite(data, Seq(col("a"), col("b")), zDir, numFiles = 64)
      val sZ = (System.nanoTime() - t0) / 1e9
      data.repartitionByRange(64, col("a")).sortWithinPartitions(col("a"))
        .write.mode("overwrite").parquet(linDir)
      def scanRows(dir: String): (Long, Long, Double) = {
        // run the count through ITS OWN executed plan handle so the scan
        // node metrics read from the execution that actually happened
        val qe = spark.read.parquet(dir)
          .where(col("a").between(1000, 9000) && col("b").between(1000, 9000))
          .groupBy().count().queryExecution
        val t = System.nanoTime()
        val kept = qe.executedPlan.executeCollect().head.getLong(0)
        val wall = (System.nanoTime() - t) / 1e9
        // AQE wraps the plan in AdaptiveSparkPlanExec and QueryStageExec
        // nodes, each of which is a "leaf" hiding its real subtree —
        // recurse through them to the actual scan nodes
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def realLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => realLeaves(a.executedPlan)
          case s: QueryStageExec => realLeaves(s.plan)
          case l if l.children.isEmpty => Seq(l)
          case o => o.children.flatMap(realLeaves)
        }
        val scan = realLeaves(qe.executedPlan)
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        (kept, scan, wall)
      }
      val (keptZ, scanZ, wallZ) = scanRows(zDir)
      val (keptL, scanL, wallL) = scanRows(linDir)
      require(keptZ == keptL, s"layouts disagree on results: $keptZ vs $keptL")
      println(f"scenario16 zorder n=$nRows files=64: write $sZ%.1f s; " +
        f"box predicate keeps $keptZ rows — materialized rows z=$scanZ " +
        f"lin=$scanL (${scanL.toDouble / scanZ}%.1f x fewer), " +
        f"wall z=$wallZ%.2f s lin=$wallL%.2f s")
    }

    // scenario 17: binned range join at scale — 10M points vs 100k
    // 2-minute intervals. The naive keyless plan is a nested loop (1e12
    // predicate evaluations — measured only at 1/100 scale and scaled
    // up for the comparison); the binned form is a hash join whose work
    // is points + intervals×bins.
    if (enabled(17)) {
      val nPts = 10000000L
      val pts = spark.range(nPts).select(col("id").as("p_id"),
        timestamp_millis(lit(1704067200000L) + pmod(xxhash64(col("id")), lit(86400000L))).as("p_ts"))
      val ivs = spark.range(100000).select(col("id").as("i_id"),
        timestamp_millis(lit(1704067200000L) + pmod(xxhash64(col("id") + 5L), lit(86400000L))).as("s"))
        .withColumn("e", col("s") + expr("INTERVAL 2 MINUTES"))
      val t0 = System.nanoTime()
      val matched = graft.ops.Joins.binnedRangeJoin(pts, col("p_ts"),
        ivs, col("s"), col("e"), binMs = 60000L).count()
      val sBinned = (System.nanoTime() - t0) / 1e9
      // naive nested loop at 1% of the points, same intervals
      val t1 = System.nanoTime()
      val naiveSmall = pts.where(col("p_id") % 100 === 0)
        .join(ivs, col("p_ts") >= col("s") && col("p_ts") <= col("e")).count()
      val sNaive = (System.nanoTime() - t1) / 1e9
      println(f"scenario17 range-join pts=$nPts ivs=100000: binned $sBinned%.1f s " +
        f"($matched matches); naive nested-loop at 1%% of points $sNaive%.1f s " +
        f"($naiveSmall matches) -> ~${sNaive * 100}%.0f s extrapolated full, " +
        f"${sNaive * 100 / sBinned}%.0f x")
    }

    // scenario 18: content-defined chunking at 1M docs (40M tokens) —
    // throughput of the kernel+explode pass, and the edit-stability
    // property AT SCALE: re-chunk a v2 corpus where 10% of docs had one
    // token edited; chunks outside the edited neighborhood must keep
    // their fingerprints, so the chunk-level diff (a fingerprint join)
    // touches only the edited chunks. Fixed-size chunking would share
    // ~nothing past each edit.
    if (enabled(18)) {
      val nDocs = 1000000L
      def corpus(edited: Boolean) = spark.range(nDocs).select(
        col("id").as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.sequence(lit(0), lit(39)),
            i => concat(lit("w"), pmod(xxhash64(
              when(lit(edited) && col("id") % 10 === 0 && i === lit(20), lit(-7L))
                .otherwise(col("id") * 40 + i)), lit(5000)))),
          " ").as("text"))
      val t0 = System.nanoTime()
      val c1 = graft.ops.TextAnalysis.cdcChunks(corpus(edited = false),
        col("doc_id"), col("text"), window = 5, maskBits = 4)
      val n1 = c1.count()
      val s1 = (System.nanoTime() - t0) / 1e9
      val c2 = graft.ops.TextAnalysis.cdcChunks(corpus(edited = true),
        col("doc_id"), col("text"), window = 5, maskBits = 4)
      val t1 = System.nanoTime()
      val shared = c1.select(col("doc_id"), col("chunk_fp"))
        .join(c2.select(col("doc_id"), col("chunk_fp")), Seq("doc_id", "chunk_fp"))
        .count()
      val sJoin = (System.nanoTime() - t1) / 1e9
      println(f"scenario18 cdc-chunks n=$nDocs (40M tokens): chunk pass $s1%.1f s " +
        f"($n1 chunks, ${nDocs * 40 / s1 / 1e6}%.1f M tok/s); " +
        f"v1-v2 fingerprint diff $sJoin%.1f s, $shared/$n1 chunks stable " +
        f"(${shared * 100.0 / n1}%.1f%% — 10%% of docs edited)")
    }

    // scenario 19: DSIR importance weighting at 1M raw docs vs a 50k-doc
    // target domain — the scoring pass is one narrow scan against two
    // broadcast bucket maps (no corpus exchange), so throughput is
    // scan-bound; the domain-separation property must hold at scale.
    if (enabled(19)) {
      val nRaw = 1000000L
      // in-domain docs (id % 20 == 0) draw from a 500-word vocab slice;
      // the rest from a disjoint 4500-word slice
      val raw = spark.range(nRaw).select(
        col("id").as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.sequence(lit(0), lit(29)),
            i => concat(lit("w"), when(col("id") % 20 === 0,
                pmod(xxhash64(col("id") * 30 + i), lit(500)))
              .otherwise(pmod(xxhash64(col("id") * 30 + i), lit(4500)) + 500))),
          " ").as("text"))
      val target = raw.where(col("doc_id") % 20 === 0)
      val t0 = System.nanoTime()
      val w = graft.ops.Sampling.importanceWeights(raw, target,
        col("doc_id"), col("text"), buckets = 4096)
      val sep = w.select(
          avg(when(col("id") % 20 === 0, col("weight_bits"))).as("in_dom"),
          avg(when(col("id") % 20 =!= 0, col("weight_bits"))).as("out_dom"))
        .head
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario19 dsir n=$nRaw raw / ${nRaw / 20} target: score+agg $s%.1f s " +
        f"(${nRaw / s / 1e6}%.2f M docs/s); mean weight in-domain ${sep.getDouble(0)}%.0f " +
        f"vs out ${sep.getDouble(1)}%.0f bits")
    }

    // scenario 20: BM25 standing index at 1M docs (30M tokens) — build
    // cost is the one tokenize+count pass; search cost must be
    // INDEX-PRUNED, not corpus-sized: the pushed term filter reads only
    // the query terms' postings, so a 3-query batch over 1M docs should
    // answer in seconds regardless of corpus size.
    if (enabled(20)) {
      val nDocs = 1000000L
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.sequence(lit(0), lit(29)),
            i => concat(lit("w"), pmod(xxhash64(col("id") * 30 + i), lit(5000)))),
          " ").as("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_s20").toString + "/bm25"
      val t0 = System.nanoTime()
      graft.ops.Bm25Index.build(docs, col("doc_id"), col("text"), dir)
      val sBuild = (System.nanoTime() - t0) / 1e9
      val qs = Seq((0L, "w17 w400 w2210"), (1L, "w3 w4999 w1234"),
        (2L, "w100 w200 w300 w400")).toDF("qid", "qtext")
      val t1 = System.nanoTime()
      val hits = graft.ops.Bm25Index.search(spark, qs, col("qid"), col("qtext"),
        dir, k = 10).count()
      val sSearch = (System.nanoTime() - t1) / 1e9
      println(f"scenario20 bm25 n=$nDocs (30M tokens): build $sBuild%.1f s " +
        f"(${nDocs * 30 / sBuild / 1e6}%.1f M tok/s); 3-query top-10 search " +
        f"$sSearch%.1f s ($hits hits, term-pruned postings scan)")
    }

    // scenario 21: exact median of 50M values — range-bisection
    // selection (histogram scans, no sort) vs the global-sort baseline
    // (sort + row_number). Selection should win and the gap widens with
    // data: sort shuffles everything, bisection exchanges ≤4097 rows a
    // pass.
    if (enabled(21)) {
      val nVals = 50000000L
      val vals = spark.range(nVals).select(
        (xxhash64(col("id")) % 1000000000L).as("v"))
      val kMid = (nVals + 1) / 2
      val t0 = System.nanoTime()
      val med = graft.ops.Quantiles.exactRank(vals, col("v"), kMid)
      val sSel = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val medSort = vals.select(col("v"),
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("v"))).as("rn"))
        .where(col("rn") === kMid).select(col("v")).head.getLong(0)
      val sSort = (System.nanoTime() - t1) / 1e9
      require(med == medSort, s"selection $med != sort $medSort")
      println(f"scenario21 exact-median n=$nVals: bisection $sSel%.1f s vs " +
        f"global sort $sSort%.1f s (${sSort / sSel}%.1f x), values agree ($med)")
    }

    // scenario 22: streaming cohort retention at 2M events / 100k users —
    // the per-user (anchor, seen-periods) state path. Delivered in 8
    // in-order micro-batches; the final complete-mode triangle must
    // equal the batch operator over the same events (the parity
    // contract, here held at scale). State is the distinct-period set:
    // 52 periods max per user regardless of event count.
    if (enabled(22)) {
      val nEv = 2000000L
      val nUsers = 100000L
      val periodMs = 1000L
      // user's signup in week (uid % 10), activity spread over 52 weeks
      def evFrame = spark.range(nEv).select(
        (col("id") % nUsers).as("user_id"),
        when(col("id") < nUsers, lit("signup")).otherwise(lit("view")).as("event_type"),
        timestamp_millis(when(col("id") < nUsers, (col("id") % 10) * periodMs)
          .otherwise((xxhash64(col("id")).cast("double") / Long.MaxValue.toDouble * 26 + 26)
            .cast("long") * periodMs)).as("ts"))
      // signups (id < nUsers) sort first, so delivery is anchor-first —
      // the in-order regime the parity contract requires
      val ev = evFrame.as[(Long, String, java.sql.Timestamp)].collect().sortBy(_._3.getTime)
      implicit val ctx = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)](spark)
      val out = graft.ops.Cohorts.retentionStream(
        in.toDF().toDF("user_id", "event_type", "ms")
          .select(col("user_id"), col("event_type"), timestamp_millis(col("ms")).as("ts")),
        col("user_id"), col("event_type"), col("ts"), "signup", periodMs = periodMs)
      // RocksDB state backend: the at-scale configuration. The default
      // HDFSBacked store keeps whole per-partition maps in heap and
      // copies them on every version commit — at 100k keys that copy
      // dominates each micro-batch in local mode.
      GraftSession.useRocksDBStateStore(spark)
      val q = out.writeStream.outputMode("complete")
        .format("memory").queryName("tb_retention").start()
      val t0 = System.nanoTime()
      try {
        ev.map(r => (r._1, r._2, r._3.getTime)).grouped((ev.length + 7) / 8)
          .foreach { b => in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val sStream = (System.nanoTime() - t0) / 1e9
      val streamed = spark.table("tb_retention")
        .as[(Long, Long, Long)].collect().toSet
      val t1 = System.nanoTime()
      val batch = graft.ops.Cohorts.retention(evFrame,
        col("user_id"), col("event_type"), col("ts"), "signup", periodMs = periodMs)
        .as[(Long, Long, Long)].collect().toSet
      val sBatch = (System.nanoTime() - t1) / 1e9
      require(streamed == batch,
        s"stream/batch retention diverged: ${streamed.size} vs ${batch.size} cells")
      println(f"scenario22 retention-stream n=$nEv users=$nUsers: 8 batches " +
        f"$sStream%.1f s (${nEv / sStream / 1e3}%.0f K ev/s) vs batch $sBatch%.1f s, " +
        f"${streamed.size} cells agree")
    }

    // scenario 23: bucketed span-index takedown at 200k docs — the
    // survivor rewrite is index-sized (not corpus-text-sized: the table
    // is gram fingerprints), and the one-exchange checkBucketed plan
    // property must survive the rewrite.
    if (enabled(23)) {
      val nDocs = 200000L
      val table = "tb_spanidx_rm"
      val docs = spark.range(nDocs).select(col("id"),
        concat_ws(" ", (0 until 24).map(j =>
          concat(lit("w"), ((xxhash64(col("id"), lit(j)) % 5000) + 5000).cast("string"))): _*)
          .as("text"))
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val t0 = System.nanoTime()
      graft.ops.SpanIndex.buildBucketed(docs, col("id"), col("text"), table,
        n = 8, buckets = 64)
      val sBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      graft.ops.SpanIndex.removeBucketed(spark, table,
        spark.range(nDocs / 100).toDF("rid"), col("rid")) // 1% takedown
      val sRm = (System.nanoTime() - t1) / 1e9
      // probe: copies of 10 REMOVED docs (must stop matching) and 10
      // surviving docs (must still match end-to-end)
      val probe = docs.where(col("id") < 10 ||
          (col("id") >= 100000L && col("id") < 100010L))
        .select((col("id") + 1000000L).as("id"), col("text"))
      val t2 = System.nanoTime()
      val hits = graft.ops.SpanIndex.checkBucketed(spark, probe,
        col("id"), col("text"), table, n = 8)
        .select(col("doc_id")).distinct().count()
      val sChk = (System.nanoTime() - t2) / 1e9
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      require(hits == 10, s"expected exactly the 10 survivor probes to hit, got $hits")
      println(f"scenario23 span-takedown n=$nDocs: build $sBuild%.1f s, " +
        f"remove(1%%) $sRm%.1f s, post-remove check $sChk%.1f s, " +
        f"survivor probes hit $hits/10, removed probes silent")
    }

    // scenario 24: PER-GROUP exact median in the operator's domain —
    // HOT groups (100M rows / 16 groups ≈ 6M values per group), where
    // the exact `percentile` aggregate buffers a whole group per
    // aggregation buffer (the cluster OOM path: working set scales with
    // group size) and a window baseline shuffles and per-group-sorts
    // the whole table. Bisection's working set is O(groups × 4096)
    // REGARDLESS of group size. Values asserted equal in-run. (With
    // many tiny groups the histogram frame dominates and the plain
    // aggregate wins — that trade is documented on the operator.)
    if (enabled(24)) {
      val nRows = 100000000L
      val nGroups = 16L
      val vals = spark.range(nRows).select((col("id") % nGroups).as("g"),
        (xxhash64(col("id")) % 1000000000L).as("v"))
      val t0 = System.nanoTime()
      val sel = graft.ops.Quantiles.exactPercentileByKey(vals, Seq("g"), col("v"), 50)
        .select(col("g"), col("value")).as[(Long, Long)].collect().toMap
      val sSel = (System.nanoTime() - t0) / 1e9
      // NOT measured here: the exact `percentile` aggregate — at this
      // shape (32 map tasks × 16 buffered groups × ~200k rows each) it
      // OOMs this JVM's heap and takes the SparkContext down with it,
      // which is precisely the working-set-scales-with-group-size
      // failure the operator exists to avoid. The window baseline
      // survives by spilling its per-group external sort.
      val t1 = System.nanoTime()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g")).orderBy(col("v"))
      val naive = vals
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
        .where(col("rn") === greatest(lit(1L), expr("(50 * n + 99) div 100")))
        .select(col("g"), col("v")).as[(Long, Long)].collect().toMap
      val sSort = (System.nanoTime() - t1) / 1e9
      require(sel == naive, s"bisection diverges from window baseline " +
        s"(${sel.size} vs ${naive.size} groups)")
      println(f"scenario24 groupwise-median n=$nRows groups=$nGroups: bisection " +
        f"$sSel%.1f s (O(groups·4096) working set, spill-free) vs window sort " +
        f"$sSort%.1f s (full shuffle + per-group external sort), " +
        f"${sel.size} groups agree")
    }

    // scenario 25: anti-entropy replica compare at 50M rows / 64 groups —
    // Diff.fingerprint (one narrow scan per replica + a 64-row join)
    // against the row-level baseline (full-outer sort-merge join on the
    // key + per-column compare, i.e. what Diff.snapshots pays). The
    // fingerprint must (a) agree on identical replicas regardless of
    // partitioning and (b) isolate a single planted 1-row mutation to
    // its group; the baseline shuffles BOTH replicas end to end. At
    // 100 TB the fingerprint path is the difference between a
    // scan-bounded nightly check and a full-corpus shuffle.
    if (enabled(25)) {
      val n = 50000000L
      val groups = 64L
      def replica(parts: Int) = spark.range(n).repartition(parts)
        .select((col("id") % groups).as("g"), col("id").as("a"),
          xxhash64(col("id")).cast("string").as("b"))
      // a fingerprint is 64 rows — the real protocol collects it once per
      // replica and compares driver-side (or ships it between clusters),
      // so each check costs exactly ONE scan of each replica
      def fp(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
        graft.ops.Diff.fingerprint(df, Seq("g"), Seq("a", "b"))
          .as[(Long, Long, Long, Long)].collect()
          .map { case (g, cnt, x, sm) => g -> (cnt, x, sm) }.toMap
      val t0 = System.nanoTime()
      val base = fp(replica(32))
      val same = fp(replica(48)).count { case (g, v) => base(g) != v }
      val mutated = replica(48).withColumn("b",
        when(col("a") === 12345678L, lit("corrupted")).otherwise(col("b")))
      val diverged = fp(mutated).count { case (g, v) => base(g) != v }
      val sFp = (System.nanoTime() - t0) / 1e9
      require(same == 0, s"identical replicas fingerprint-diverged in $same groups")
      require(diverged == 1, s"planted mutation hit $diverged groups, expected 1")
      val t1 = System.nanoTime()
      val rowDiff = replica(32).as("l").join(mutated.as("r"), Seq("a"), "full_outer")
        .where(!(col("l.b") <=> col("r.b")) || !(col("l.g") <=> col("r.g")))
        .count()
      val sRow = (System.nanoTime() - t1) / 1e9
      require(rowDiff == 1, s"row-level baseline found $rowDiff diffs, expected 1")
      println(f"scenario25 fingerprint-compare n=$n: three replica scans " +
        f"$sFp%.1f s total (${sFp / 3}%.1f s per scan-bounded check, 64-row " +
        f"driver compare) vs one row-level full-outer compare $sRow%.1f s " +
        "(both replicas shuffled end to end); mutation isolated to 1 group")
    }

    // scenario 26: distribution drift at 20M docs / ~1M-token vocab —
    // the tokenDrift join must stay vocab-sized (the corpus is read once
    // per side and never shuffled), and a planted 1%-of-docs vocabulary
    // shift must surface its tokens as the top movers
    if (enabled(26)) {
      val nDocs = 20000000L
      val vocab = 1000000L
      // 3 tokens per doc from a uniform synthetic vocabulary; `shift`
      // sends 1% of side-B docs to a disjoint "drifted_" vocab slice
      def corpus(shift: Boolean) = {
        val tok = (i: Int) =>
          concat(lit("t"), pmod(xxhash64(col("id") + lit(i * 7L)), lit(vocab)))
        val base = concat_ws(" ", tok(1), tok(2), tok(3))
        val drifted = concat_ws(" ",
          concat(lit("drifted_"), pmod(expr("id div 100"), lit(1000L))), tok(2), tok(3))
        spark.range(nDocs).select(col("id"),
          (if (shift) when(col("id") % 100 === 0, drifted).otherwise(base)
           else base).as("text"))
      }
      val t0 = System.nanoTime()
      val movers = graft.ops.TextAnalysis.tokenDrift(
          corpus(shift = false), corpus(shift = true), col("text"), col("text"))
        .orderBy(col("move").desc, col("token"))
        .limit(20).select(col("token")).as[String].collect()
      val s = (System.nanoTime() - t0) / 1e9
      val planted = movers.count(_.startsWith("drifted_"))
      require(planted >= 15,
        s"planted drift tokens missing from top movers: ${movers.mkString(",")}")
      println(f"scenario26 token-drift n=$nDocs vocab~$vocab: $s%.1f s, " +
        s"$planted/20 top movers are the planted drift tokens")
    }

    // scenario 27: mid-stream RESTART of 200k-key custom state — the
    // recovery cost behind the q129/q134 exactly-once gates, per state
    // backend. 2M events / 200k users replayed as 8 ordered file
    // slices; stop after 4 with every user's (anchor, seen-periods)
    // state only in the checkpoint; restart from it and finish. Phase B
    // pays the state RELOAD (HDFSBacked: whole per-partition maps back
    // into heap; RocksDB: sst reopen) before its first commit, and the
    // final complete-mode triangle must equal the batch operator —
    // recovery that loses or resets any user's state fails the require,
    // not just the stopwatch.
    if (enabled(27)) {
      val nEv = 2000000L
      val nUsers = 200000L
      val periodMs = 1000L
      def evFrame = spark.range(nEv).select(
        (col("id") % nUsers).as("user_id"),
        when(col("id") < nUsers, lit("signup")).otherwise(lit("view")).as("event_type"),
        timestamp_millis(when(col("id") < nUsers, (col("id") % 10) * periodMs)
          .otherwise((xxhash64(col("id")).cast("double") / Long.MaxValue.toDouble * 26 + 26)
            .cast("long") * periodMs)).as("ts"))
      val stage = java.nio.file.Files.createTempDirectory("graft_s27").toString
      graft.streaming.Replay.writeOrderedSlices(evFrame, unix_millis(col("ts")),
        stage, slices = 8)
      val batch = graft.ops.Cohorts.retention(evFrame, col("user_id"),
          col("event_type"), col("ts"), "signup", periodMs = periodMs)
        .as[(Long, Long, Long)].collect().toSet
      val schema = evFrame.schema
      for (backend <- Seq("hdfs", "rocksdb")) {
        if (backend == "rocksdb") GraftSession.useRocksDBStateStore(spark)
        val work = java.nio.file.Files.createTempDirectory(s"graft_s27_$backend").toString
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/in"))
        def copySlices(r: Range): Unit = r.foreach { i =>
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$stage/in/slice$i.parquet"),
            java.nio.file.Paths.get(s"$work/in/slice$i.parquet"),
            java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        }
        def runPhase(): Double = {
          val t = System.nanoTime()
          val q = graft.ops.Cohorts.retentionStream(
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(s"$work/in"),
            col("user_id"), col("event_type"), col("ts"), "signup",
            periodMs = periodMs)
            .writeStream.format("memory").queryName("tb_s27")
            .option("checkpointLocation", s"$work/ckpt")
            .outputMode("complete").start()
          try q.processAllAvailable() finally q.stop()
          (System.nanoTime() - t) / 1e9
        }
        copySlices(0 to 3); val sA = runPhase()
        copySlices(4 to 7); val sB = runPhase()
        val streamed = spark.table("tb_s27").as[(Long, Long, Long)].collect().toSet
        require(streamed == batch,
          s"$backend restart diverged: ${streamed.size} vs ${batch.size} cells")
        if (backend == "rocksdb")
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        println(f"scenario27 restart-$backend n=$nEv users=$nUsers: phase A " +
          f"(4 batches, cold start) $sA%.1f s; restart phase B (state reload " +
          f"+ 4 batches) $sB%.1f s; ${streamed.size} cells equal batch")
      }
    }

    // scenario 28: continuous screen-and-admit at a 400k-doc standing
    // MinHash-LSH index — the q136 admission-control loop at scale: four
    // 25k-doc micro-batches each SCREEN against the index (planted: every
    // 100th doc clones an indexed doc's content) and then ADMIT via
    // append. The claims under measurement: per-batch cost is bounded by
    // the batch (flat as the index grows — the stored side is looked up
    // via the (band, bucket) equi-join, never reshuffled), and recall on
    // the planted clones is exact per batch. Batch sources are disjoint
    // across batches, so each batch must flag exactly nBatch/100 pairs
    // even as earlier batches' clones accumulate in the index.
    if (enabled(28)) {
      val nIdx = 400000L
      val nBatch = 25000L
      val vocabSize = 5000
      def content(idc: org.apache.spark.sql.Column) = array_join(transform(sequence(lit(0), lit(39)),
        i => concat(lit("w"), pmod(xxhash64(idc * 40 + i), lit(vocabSize)))), " ")
      val corpus = spark.range(nIdx)
        .select(col("id").as("doc_id"), content(col("id")).as("text"))
      val path = graft.core.TempDirs.create("graft_s28")
      val tB = System.nanoTime()
      graft.ops.DedupIndex.build(corpus, col("doc_id"), col("text"), path,
        shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2)
      val sBuild = (System.nanoTime() - tB) / 1e9
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[Long]
      val batchDf = in.toDF().select(col("value").as("doc_id"),
        when(col("value") % 100 === 0, content(pmod(col("value"), lit(nIdx))))
          .otherwise(content(col("value"))).as("text"))
      val hits = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = graft.ops.DedupIndex.screenStream(spark, batchDf,
        col("doc_id"), col("text"), path, threshold = 0.8,
        shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2) { b =>
        hits += b.count()
      }
      val perBatch = (0 until 4).map { b =>
        val lo = nIdx + b * nBatch
        val t0 = System.nanoTime()
        in.addData(lo until (lo + nBatch))
        q.processAllAvailable()
        val admit = spark.range(lo, lo + nBatch).select(col("id").as("doc_id"),
          when(col("id") % 100 === 0, content(pmod(col("id"), lit(nIdx))))
            .otherwise(content(col("id"))).as("text"))
        graft.ops.DedupIndex.append(admit, col("doc_id"), col("text"), path,
          shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2)
        (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      require(hits.toSeq == Seq.fill(4)(nBatch / 100),
        s"planted-clone recall broke: $hits (expected 4x${nBatch / 100})")
      println(f"scenario28 screen-admit idx=$nIdx batch=$nBatch: build $sBuild%.1f s; " +
        s"screen+admit per batch ${perBatch.map(t => f"$t%.1f").mkString("/")} s " +
        f"(${nBatch / (perBatch.sum / 4) / 1e3}%.1f K docs/s through admission control, " +
        "250/250 planted clones flagged per batch, flat as the index grows)")
    }

    // scenario 29: mini-batch k-means folds at 1M 64-dim vectors — the
    // q150 continuous-model-update path at scale. Build the standing
    // model on 500k vectors (k=64, 2 Lloyd iterations), then fold four
    // 125k-vector batches via KMeansIndex.update. The claims under
    // measurement: a fold costs batch-sized work (assign = broadcast
    // argmin over the batch; stats merge = k·dim rows; sidecar append =
    // batch rows — the 500k-row indexed corpus is NEVER revisited), so
    // per-fold time stays flat while the model grows, and the whole
    // build+4-folds lifecycle undercuts one full refit of the 1M-row
    // union. Exactness check: the folded statistics must account for
    // every vector (sum n = 1M) — the invariant KMeansIndexSpec asserts
    // structurally, here held at scale.
    if (enabled(29)) {
      val nBase = 500000L
      val nBatch = 125000L
      def vecsOf(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(xxhash64(col("id") * 64 + d), lit(2000)) - 1000.0) / 1000.0).as("v"))
      val path = graft.core.TempDirs.create("graft_s29") + "/km"
      val tB = System.nanoTime()
      graft.ops.KMeansIndex.build(vecsOf(0, nBase), col("vec_id"), col("v"),
        k = 64, iters = 2, path)
      val sBuild = (System.nanoTime() - tB) / 1e9
      val perFold = (0 until 4).map { b =>
        val lo = nBase + b * nBatch
        val t0 = System.nanoTime()
        graft.ops.KMeansIndex.update(spark, vecsOf(lo, lo + nBatch),
          col("vec_id"), col("v"), path)
        (System.nanoTime() - t0) / 1e9
      }
      val totalN = spark.read.parquet(s"$path/_model/_stats")
        .where(col("d") === 0).agg(sum(col("n"))).head.getLong(0)
      require(totalN == nBase + 4 * nBatch,
        s"folded statistics lost rows: $totalN of ${nBase + 4 * nBatch}")
      val tF = System.nanoTime()
      graft.ops.KMeans.fit(vecsOf(0, nBase + 4 * nBatch),
        col("vec_id"), col("v"), k = 64, iters = 2)
      val sRefit = (System.nanoTime() - tF) / 1e9
      println(f"scenario29 kmeans-fold base=$nBase batch=$nBatch k=64: " +
        f"build $sBuild%.1f s; folds ${perFold.map(t => f"$t%.1f").mkString("/")} s " +
        f"(flat, batch-sized; all ${nBase + 4 * nBatch} rows accounted); " +
        f"full 1M refit $sRefit%.1f s vs ${perFold.sum}%.1f s for the 4 folds")
    }

    // scenario 30: incremental view maintenance — the q153 path at
    // scale. A 2M-key materialized (count, sum) view is refreshed from
    // a 1M-row changelog touching 100k keys. The claim under
    // measurement is the SCALING LAW, not one point: refresh cost is
    // O(view + changelog) — changelog-collapse + two narrow scans of
    // the view (broadcast merge, zero view shuffles) — while
    // re-aggregation is O(base). Doubling the base from 50M to 100M
    // parquet rows must move the recompute, not the refresh; at a
    // production base:view ratio the gap is the whole base re-read.
    // The recompute applies the retraction arithmetic too (update
    // pairs shift sums, counts unchanged) and the refreshed view is
    // asserted ROW-FOR-ROW equal to it at each size.
    if (enabled(30)) {
      val keysN = 2000000L
      def updKeys = spark.range(200000).select(
        pmod(xxhash64(col("id") + 13), lit(100000L)).as("k"))
      val changes = spark.range(600000).select(
          pmod(xxhash64(col("id") + 7), lit(100000L)).as("k"),
          (col("id") % 1000).as("v"), lit("+I").as("op"))
        .unionByName(updKeys.select(col("k"), lit(0L).as("v"), lit("+U").as("op")))
        .unionByName(updKeys.select(col("k"), lit(1L).as("v"), lit("-U").as("op")))
      def refreshOf(view: org.apache.spark.sql.DataFrame) =
        graft.ops.Diff.maintainAgg(view, changes, Seq("k"),
          "op", "cnt", Seq("sum_v" -> "v"))
      def recomputeOf(base: org.apache.spark.sql.DataFrame) = base
        .unionByName(changes.where(col("op") === "+I").select(col("k"), col("v")))
        .groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
        .join(updKeys.groupBy("k").agg(count(lit(1)).as("pairs")), Seq("k"), "left_outer")
        .select(col("k"), col("cnt"),
          (col("sum_v") - coalesce(col("pairs"), lit(0L))).as("sum_v"))
      var warmed = false
      val results = Seq(100000000L, 400000000L).map { nBase =>
        val dir = graft.core.TempDirs.create(s"graft_s30_$nBase")
        // a REAL parquet base (written once, untimed): the comparison
        // is storage re-read vs no re-read
        spark.range(nBase).select(
            pmod(xxhash64(col("id")), lit(keysN)).as("k"),
            (col("id") % 1000).as("v"))
          .write.parquet(s"$dir/base")
        def base = spark.read.parquet(s"$dir/base")
        base.groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
          .write.parquet(s"$dir/view")
        val view = spark.read.parquet(s"$dir/view")
        if (!warmed) {
          // one untimed execution of each plan SHAPE so codegen/JIT
          // lands outside the measurements (shapes are size-invariant)
          refreshOf(view).write.parquet(s"$dir/warm_r")
          recomputeOf(base).write.parquet(s"$dir/warm_f")
          warmed = true
        }
        val t0 = System.nanoTime()
        refreshOf(view).write.parquet(s"$dir/refreshed")
        val sInc = (System.nanoTime() - t0) / 1e9
        // honest recompute WITH the retractions: re-aggregate base +
        // inserts, then shift each key's sum by (after - before) x pairs
        val t1 = System.nanoTime()
        recomputeOf(base).write.parquet(s"$dir/recomputed")
        val sFull = (System.nanoTime() - t1) / 1e9
        val inc = spark.read.parquet(s"$dir/refreshed")
        val full = spark.read.parquet(s"$dir/recomputed")
        val diff = inc.exceptAll(full).count() + full.exceptAll(inc).count()
        require(diff == 0, s"incremental refresh diverged from recompute on $diff rows")
        (nBase, sInc, sFull)
      }
      val line = results.map { case (n, i, f) =>
        f"base=${n / 1000000}M: refresh $i%.1f s vs recompute $f%.1f s"
      }.mkString("; ")
      println(s"scenario30 view-maintain keys=$keysN changelog=1M: $line " +
        "(row-for-row equal at each size; refresh cost tracks the view, " +
        "recompute cost tracks the base)")
    }

    // scenario 31: theta-sketch distinct roll-up at 50M events — the
    // q154/q155 path at scale. One corpus pass builds per-(group, day)
    // sketches (20 groups × 32 buckets, ~100k distinct users each, well
    // inside the 2^20 exact regime); every later slice query unions
    // bucket sketches instead of re-scanning. Measured: build cost,
    // then 8 range-distinct queries from the sketch table vs the same 8
    // as direct COUNT(DISTINCT) scans. NOTE the honest trade: in the
    // EXACT regime a sketch retains 8 bytes per distinct value
    // (~800 KB here), so slice unions still chew through retained
    // hashes — the win is the corpus re-read (50M rows) each query
    // skips, and it widens with rows-per-distinct; production estimate
    // mode (lgK 12, ±1.6%) caps every sketch at 4 KB instead. One slice
    // is cross-checked exact against its direct count.
    if (enabled(31)) {
      val nEv = 50000000L
      def ev = spark.range(nEv).select(
        pmod(xxhash64(col("id")), lit(20)).as("g"),
        (col("id") % 32).as("b"),
        pmod(xxhash64(col("id") * 31 + 5), lit(100000L)).as("u"))
      val dir = graft.core.TempDirs.create("graft_s31")
      val t0 = System.nanoTime()
      graft.ops.Sketches.thetaBuckets(ev, Seq(col("g")), col("b"), col("u"))
        .write.parquet(s"$dir/sketches")
      val sBuild = (System.nanoTime() - t0) / 1e9
      val bk = spark.read.parquet(s"$dir/sketches")
      val slices = (0 until 8).map(i => (i * 4L, math.min(i * 4L + 7L, 31L)))
      val t1 = System.nanoTime()
      slices.foreach { case (lo, hi) =>
        graft.ops.Sketches.distinctOver(bk, Seq("g"),
            col("bucket").between(lo, hi))
          .write.format("noop").mode("overwrite").save()
      }
      val sSketch = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      slices.foreach { case (lo, hi) =>
        ev.where(col("b").between(lo, hi)).groupBy("g")
          .agg(countDistinct("u"))
          .write.format("noop").mode("overwrite").save()
      }
      val sDirect = (System.nanoTime() - t2) / 1e9
      // exactness regime held at scale: one slice compared to its scan
      val est = graft.ops.Sketches.distinctOver(bk, Seq("g"),
          col("bucket") <= 15)
        .orderBy("g").collect().map(_.getLong(1)).toSeq
      val exact = ev.where(col("b") <= 15).groupBy("g")
        .agg(countDistinct("u").as("e")).orderBy("g")
        .collect().map(_.getLong(1)).toSeq
      require(est == exact, s"sketch regime broke at scale: $est vs $exact")
      println(f"scenario31 sketch-rollup n=$nEv: build $sBuild%.1f s (once); " +
        f"8 slice queries from sketches $sSketch%.1f s vs direct distinct " +
        f"scans $sDirect%.1f s; spot slice exact-equal")
    }

    // scenario 33: continuous sketch ingestion at 40M events — the q161
    // lifecycle at scale. The standing (group, day) theta store starts
    // from 20M rows; four 5M-row micro-batches fold in via
    // appendThetaBuckets through the SwapStore ledger. Claims measured:
    // per-fold cost is batch-sized + store-sized (the 20M summarized
    // rows are never revisited, so folds stay flat while coverage
    // grows), and the grown store answers a slice EXACTLY like a
    // one-shot build over all 40M rows.
    if (enabled(33)) {
      def evOf(lo: Long, hi: Long) = spark.range(lo, hi).select(
        pmod(xxhash64(col("id")), lit(20)).as("g"),
        (col("id") % 32).as("b"),
        pmod(xxhash64(col("id") * 31 + 5), lit(100000L)).as("u"))
      val path = graft.core.TempDirs.create("graft_s33")
      val tB = System.nanoTime()
      graft.ops.Sketches.initThetaStore(evOf(0, 20000000L),
        Seq(col("g")), col("b"), col("u"), path)
      val sInit = (System.nanoTime() - tB) / 1e9
      val perFold = (0 until 4).map { i =>
        val lo = 20000000L + i * 5000000L
        val t0 = System.nanoTime()
        graft.core.SwapStore.fold(spark, path, i.toLong) { cur =>
          graft.ops.Sketches.appendThetaBuckets(cur, evOf(lo, lo + 5000000L),
            Seq(col("g")), col("b"), col("u"))
        }
        (System.nanoTime() - t0) / 1e9
      }
      val grown = graft.ops.Sketches.distinctOver(
          graft.ops.Sketches.readThetaStore(spark, path), Seq("g"),
          col("bucket") <= 15)
        .orderBy("g").collect().map(_.getLong(1)).toSeq
      val direct = evOf(0, 40000000L).where(col("b") <= 15).groupBy("g")
        .agg(countDistinct("u")).orderBy("g").collect().map(_.getLong(1)).toSeq
      require(grown == direct, s"stream-grown store diverged: $grown vs $direct")
      println(f"scenario33 sketch-ingest init=20M folds=4x5M: init $sInit%.1f s; " +
        f"folds ${perFold.map(t => f"$t%.1f").mkString("/")} s (flat, batch-sized; " +
        "the summarized rows never re-read); grown store slice == direct " +
        "distinct over all 40M rows")
    }

    // scenario 34: fold-count endurance + compaction — the sketch
    // stores' posture under HIGH TRIGGER RATES. 200 micro-folds of 10k
    // rows each into a (20 group, 32 bucket) theta store: per-fold
    // latency must stay FLAT across the run (a fold rewrites only the
    // tiny bucket table and the swap discards the previous generation,
    // so nothing accumulates — neither files nor dirs), and
    // SwapStore.compact bounds the read-side data-file count without
    // touching content or ledger (invariance spec: SwapStoreSpec).
    if (enabled(34)) {
      def evOf(lo: Long, hi: Long) = spark.range(lo, hi).select(
        pmod(xxhash64(col("id")), lit(20)).as("g"),
        (col("id") % 32).as("b"),
        pmod(xxhash64(col("id") * 31 + 5), lit(100000L)).as("u"))
      val path = graft.core.TempDirs.create("graft_s34")
      graft.ops.Sketches.initThetaStore(evOf(0, 10000),
        Seq(col("g")), col("b"), col("u"), path)
      val folds = 200
      val times = (0 until folds).map { i =>
        val lo = 10000L + i * 10000L
        val t0 = System.nanoTime()
        graft.core.SwapStore.fold(spark, path, i.toLong) { cur =>
          graft.ops.Sketches.appendThetaBuckets(cur, evOf(lo, lo + 10000L),
            Seq(col("g")), col("b"), col("u"))
        }
        (System.nanoTime() - t0) / 1e9
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val early = med(times.slice(10, 50).toSeq)
      val late = med(times.slice(folds - 40, folds).toSeq)
      require(late < early * 2.5,
        f"fold latency drifted across $folds folds: early $early%.3f s late $late%.3f s")
      def dataFiles = new java.io.File(s"$path/_store/data").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val filesBefore = dataFiles
      graft.core.SwapStore.compact(spark, path, files = 1)
      val filesAfter = dataFiles
      require(filesAfter == 1, s"compact left $filesAfter data files")
      // folds keep landing on the compacted store, and the ledger is intact
      graft.core.SwapStore.fold(spark, path, folds.toLong) { cur =>
        graft.ops.Sketches.appendThetaBuckets(cur,
          evOf(10000L + folds * 10000L, 10000L + folds * 10000L + 10000L),
          Seq(col("g")), col("b"), col("u"))
      }
      require(graft.core.SwapStore.lastBatch(spark, path) == folds.toLong)
      println(f"scenario34 fold-endurance folds=$folds x10k: early-median " +
        f"$early%.3f s, late-median $late%.3f s (flat — nothing accumulates); " +
        f"compact $filesBefore -> $filesAfter data files, ledger intact, " +
        "post-compact folds unaffected")
    }

    // scenario 35: the admission front door at 4M docs — the q169/q174
    // path at scale. Each of 4 batches of 1M runs the full screen
    // (standing-fp dedup + in-batch fingerprint window + broadcast-
    // bench decontamination) and folds atomically into 3 catalog
    // stores; then one atomic source takedown. Planted rejections:
    // every 10th doc is an in-batch dup, every 100th doc of batches
    // 1-3 echoes a batch-0 doc (caught ONLY by the standing store),
    // every 1000th embeds a full bench doc (caught by decon).
    // Correctness is asserted exactly: the final fingerprint count
    // must equal the from-scratch distinct content-class count over
    // clean docs, and the takedown must leave 19 of 20 sources.
    if (enabled(35)) {
      val batchN = 1000000L
      val batches = 4
      val total = batchN * batches
      // content class of an id: cross-batch echoes collapse onto the
      // batch-0 id, then in-batch dups onto the predecessor (the rule
      // sets are digit-disjoint, so the collapse order is immaterial)
      def contentKey(id: org.apache.spark.sql.Column) = {
        val base = when(id % 100 === 50 && id >= batchN, id % batchN).otherwise(id)
        when(base % 10 === 9, base - 1).otherwise(base)
      }
      def benchText(docId: org.apache.spark.sql.Column) =
        array_join(transform(sequence(lit(0), lit(7)),
          j => concat(lit("bw"), pmod(xxhash64(docId * 8 + j), lit(400)))), " ")
      val benchDocs = spark.range(50).select(
        col("id").as("doc_id"), benchText(col("id")).as("text"))
      def docsOf(b: Int) =
        spark.range(b * batchN, (b + 1) * batchN).select(
          col("id").as("doc_id"),
          // hashed source: decorrelated from the digit-based planted-
          // rejection rules, so every source retains admitted docs
          concat(lit("src"),
            pmod(xxhash64(col("id") + 1234567), lit(20)).cast("string")).as("source"),
          when(col("id") % 1000 === 7,
            // contaminated: one full bench doc plus a unique suffix
            concat(benchText(col("id") % 50), lit(" zq"), col("id")))
          .otherwise(array_join(transform(sequence(lit(0), lit(14)),
            j => concat(lit("w"),
              pmod(xxhash64(contentKey(col("id")) * 15 + j), lit(50000)))), " "))
          .as("text"))
      val base = graft.core.TempDirs.create("graft_s35")
      val empty = docsOf(0).limit(0)
      graft.core.Catalog.init(base, Map(
        "fps" -> empty.select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp")),
        "stats" -> empty.groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
        "docs" -> empty.select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))))
      import org.apache.spark.sql.DataFrame
      val folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
        "fps" -> ((cur, b) => cur.unionByName(b.select(col("__fp").as("fp"))).distinct()),
        "stats" -> ((cur, b) => cur.unionByName(
            b.groupBy(col("source")).agg(count(lit(1)).as("n_docs")))
          .groupBy(col("source")).agg(sum(col("n_docs")).as("n_docs"))),
        "docs" -> ((cur, b) => cur.unionByName(
          b.select(col("doc_id"), col("source"), col("__fp").as("fp")))))
      val times = (0 until batches).map { i =>
        val t0 = System.nanoTime()
        graft.ops.Admission.ingest(spark, base, i.toLong,
          graft.ops.Admission.screen(spark, base, "fps", docsOf(i),
            col("doc_id"), col("text"), benchDocs, col("doc_id"), col("text")),
          folds)
        (System.nanoTime() - t0) / 1e9
      }
      val expected = spark.range(total).where(col("id") % 1000 =!= 7)
        .select(contentKey(col("id")).as("k")).distinct().count()
      val got = graft.core.Catalog.read(spark, base, "fps").count()
      require(got == expected,
        s"admission missed or double-admitted classes: fps=$got expected=$expected")
      val tdT0 = System.nanoTime()
      val ticket = graft.core.Catalog.read(spark, base, "docs")
        .where(col("source") === "src7")
      graft.core.Catalog.ingest(spark, base, batches.toLong, ticket, Seq(
        "docs" -> ((cur, t) => cur.join(t.select("doc_id"), Seq("doc_id"), "left_anti")),
        "fps" -> ((cur, t) => cur.join(t.select("fp"), Seq("fp"), "left_anti")),
        "stats" -> ((cur, t) => cur.join(
            t.groupBy(col("source")).agg(count(lit(1)).as("__d")), Seq("source"), "left")
          .select(col("source"),
            (col("n_docs") - coalesce(col("__d"), lit(0L))).as("n_docs"))
          .where(col("n_docs") > 0))))
      val tdS = (System.nanoTime() - tdT0) / 1e9
      require(graft.core.Catalog.read(spark, base, "stats").count() == 19,
        "takedown must leave 19 of 20 sources")
      // the 100 TB join shape, measured: screen a FRESH 1M batch (ids
      // beyond the corpus -> ~no true matches) against the grown
      // standing store, plain anti join vs the Bloom-prefiltered
      // broadcast form. The prefilter survivor set is ~fpp x store.
      def freshBatch = spark.range(10000000L, 11000000L).select(
        col("id").as("doc_id"), lit("srcF").as("source"),
        array_join(transform(sequence(lit(0), lit(14)),
          j => concat(lit("f"), pmod(xxhash64(col("id") * 15 + j), lit(50000)))), " ")
          .as("text"))
      def timeScreen(fpp: Option[Double]): Double = {
        val t0 = System.nanoTime()
        val n = graft.ops.Admission.screen(spark, base, "fps", freshBatch,
          col("doc_id"), col("text"), benchDocs, col("doc_id"), col("text"),
          standingBloomFpp = fpp).count()
        require(n == 1000000L, s"fresh batch must all survive, got $n")
        (System.nanoTime() - t0) / 1e9
      }
      val plainS = timeScreen(None)
      val bloomS = timeScreen(Some(1e-3))
      val totalS = times.sum
      println(f"scenario35 admission n=$total (${batches}x$batchN): " +
        times.zipWithIndex.map { case (t, i) => f"b$i $t%.1f s" }.mkString(", ") +
        f"; total $totalS%.1f s (${total / totalS / 1e6}%.2f M docs/s end-to-end " +
        f"incl. 3-store atomic folds); takedown src7 $tdS%.1f s; " +
        f"fps=$got == from-scratch $expected (exact); " +
        f"fresh-batch screen plain $plainS%.1f s vs bloom-broadcast $bloomS%.1f s")
    }

    // scenario 36: catalog replication — DR cost must track CHANGED
    // bytes, not catalog size. A 20M-row "big" store beside a 20-row
    // "small" stats store: the bootstrap ships both; the incremental
    // sync after a stats-only fold ships ONLY the small store, so its
    // cost is independent of the 20M-row neighbor; the converged pass
    // is a pointer compare. This is q178's physical path measured at
    // scale — log-ship catch-up (q179) stays batch-sized by
    // construction and needs no separate measurement.
    if (enabled(36)) {
      import org.apache.spark.sql.DataFrame
      val nBig = 50000000L
      def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("k"), xxhash64(col("id")).as("v"),
        concat(lit("p"), pmod(xxhash64(col("id") + 7), lit(100000))).as("tag"))
      val folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
        "big" -> ((cur, b) => cur.unionByName(b)),
        "small" -> ((cur, b) => cur.unionByName(
            b.groupBy(pmod(col("k"), lit(20)).as("g")).agg(count(lit(1)).as("n")))
          .groupBy("g").agg(sum(col("n")).as("n"))))
      val p = graft.core.TempDirs.create("graft_s36_p")
      val r = graft.core.TempDirs.create("graft_s36_r")
      graft.core.Catalog.init(p, Map(
        "big" -> rows(0, 0),
        "small" -> rows(0, 0)
          .groupBy(pmod(col("k"), lit(20)).as("g")).agg(count(lit(1)).as("n"))))
      graft.core.Catalog.ingest(spark, p, 0L, rows(0, nBig), folds)
      val (boot, sBoot) = timed(graft.core.Catalog.replicate(spark, p, r))
      require(boot.keySet == Set("big", "small"), "bootstrap ships both stores")
      graft.core.Catalog.ingest(spark, p, 1L, rows(nBig, nBig + 1000000L),
        folds.filter(_._1 == "small"))
      val (inc, sInc) = timed(graft.core.Catalog.replicate(spark, p, r))
      require(inc.keySet == Set("small"),
        s"incremental must ship only the changed store, got $inc")
      val (noop, sNoop) = timed(graft.core.Catalog.replicate(spark, p, r))
      require(noop.isEmpty, "converged replica must ship nothing")
      require(graft.core.Catalog.read(spark, r, "big").count() == nBig,
        "replica big store must carry the bootstrap rows")
      require(graft.core.Catalog.read(spark, r, "small")
        .agg(sum(col("n"))).head.getLong(0) == nBig + 1000000L,
        "replica small store must carry the post-bootstrap fold")
      println(f"scenario36 catalog-replicate big=$nBig rows: bootstrap $sBoot%.1f s " +
        f"(both stores); incremental sync after a stats-only fold $sInc%.1f s " +
        "(ships the 20-row store plus constant pin/cutover metadata — " +
        f"independent of the big neighbor); converged no-op $sNoop%.2f s " +
        "(pointer compare, no pin)")
    }

    // scenario 37: incremental SCD-2 at scale — apply a 100k-version
    // slice to a 50M-row dimension history vs rebuilding it. The
    // apply's history side is one broadcast-join pass (no shuffle, no
    // window — plan-pinned in DiffSpec); the rebuild re-windows all
    // 50M rows. At 100 TB the gap IS the keyed shuffle of the whole
    // history; locally it shows as the window + exchange saved.
    if (enabled(37)) {
      val keys = 5000000L
      val versPerKey = 10L
      val nHist = keys * versPerKey
      // id -> (key = id % keys, seq = id / keys): per key, seq runs
      // 0..versPerKey-1, so (key, seq) is unique and ordered by id
      def ver(lo: Long, hi: Long) = spark.range(lo, hi).select(
        (col("id") % keys).as("k"), (col("id") / keys).as("seq"),
        xxhash64(col("id")).as("payload"))
      val histPath = graft.core.TempDirs.create("graft_s37_hist")
      graft.ops.Diff.scd2(ver(0, nHist), Seq("k"), "seq")
        .write.mode("overwrite").parquet(histPath)
      val hist = spark.read.parquet(histPath)
      val slice = ver(nHist, nHist + 100000L) // seq = versPerKey, all in-order
      val (nApply, sApply) = timed(
        graft.ops.Diff.scd2Apply(hist, slice, Seq("k"), "seq").count())
      val (nRebuild, sRebuild) = timed(
        graft.ops.Diff.scd2(ver(0, nHist + 100000L), Seq("k"), "seq").count())
      require(nApply == nHist + 100000L && nApply == nRebuild,
        s"apply and rebuild must carry every version: $nApply vs $nRebuild")
      println(f"scenario37 scd2-apply hist=$nHist slice=100k: " +
        f"incremental apply $sApply%.1f s vs full rebuild $sRebuild%.1f s " +
        f"(${sRebuild / sApply}%.1fx — the rebuild re-windows the history; " +
        "the apply broadcasts the slice keys)")
    }

    // scenario 32: streaming quota-fill admission at 8M docs — the q156
    // path at scale. 20 domains, 4 key-ordered micro-batches of 2M rows
    // each; per-domain state is ONE long, so the stateful exchange
    // carries data rows but keeps O(domains) state regardless of
    // volume. The budget line (per domain) crosses inside batch 2, so
    // batches 3-4 measure the full-reject regime (state lookups only,
    // nothing admitted — the cheap steady state of a filled quota).
    if (enabled(32)) {
      val nDocs = 8000000L
      def docs = spark.range(nDocs).select(
        concat(lit("dom"), (col("id") % 20).cast("string")).as("dom"),
        col("id").as("k"),
        (pmod(xxhash64(col("id")), lit(900)) + 100).as("t"))
      val stage = graft.streaming.Replay.writeOrderedSlices(docs, col("k"),
        graft.core.TempDirs.create("graft_s32"), 4)
      // ~half of each domain's ~220M total tokens
      val budget = 110000000L
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val t0 = System.nanoTime()
      val admitted = try {
        val stream = graft.streaming.Replay.orderedStream(spark, stage, docs.schema)
        val out = graft.ops.Sampling.quotaFillStream(stream, col("dom"),
          col("k"), col("t"), budget)
        val q = out.writeStream.format("memory").queryName("graft_s32_quota")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        spark.table("graft_s32_quota").count()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      val s = (System.nanoTime() - t0) / 1e9
      // every domain must have filled to within one doc of its budget
      val fills = spark.table("graft_s32_quota")
        .groupBy("dom").agg(max(col("prefix_excl") + col("n_tok")).as("filled"))
        .agg(min(col("filled"))).head.getLong(0)
      require(fills > budget - 1000,
        s"a domain stopped $fills short of the $budget budget line")
      println(f"scenario32 quota-stream n=$nDocs domains=20 budget=$budget: " +
        f"$s%.1f s end-to-end (${nDocs / s / 1e6}%.1f M docs/s), " +
        f"$admitted admitted, every domain filled to its line; " +
        f"state = 20 longs regardless of volume")
    }

    // scenario 38: trigram substring index vs the full LIKE scan — the
    // q191 path at 4M ~50-char docs of letter-coded words (a trigram
    // space like real text; an all-digit vocabulary shares trigrams so
    // heavily that NO substring index can prune it). 48 standing
    // patterns sampled from the corpus, crossing word boundaries. The
    // decisive scale metric is BYTES TOUCHED: the scan reads every doc
    // for every query set; the index reads the selected grams' posting
    // lists plus the candidates — on a 100 TB corpus that ratio is the
    // whole game, single-node in-memory wall clock merely ties.
    if (enabled(38)) {
      val nDocs = 4000000L
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(9)),
          i => translate(
            conv(pmod(xxhash64(col("id") * 10 + i), lit(456976)).cast("string"), 10, 26),
            "0123456789ABCDEFGHIJKLMNOP", "abcdefghijklmnopqrstuvwxyz")),
          " ").as("text")).localCheckpoint()
      val idxDir = java.nio.file.Files.createTempDirectory("graft_s38").toString + "/tri"
      val t0 = System.nanoTime()
      graft.ops.TrigramIndex.build(docs, col("doc_id"), col("text"), idxDir)
      val sBuild = (System.nanoTime() - t0) / 1e9
      val pats = docs.where(col("doc_id") % 83333 === 7).limit(48)
        .select((col("doc_id") % 48).as("qid"), substring(col("text"), 4, 9).as("pat"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("qid", "pat")
      val (nIdx, sIdx) = timed(graft.ops.TrigramIndex.search(
        spark, pats, col("qid"), col("pat"),
        docs, col("doc_id"), col("text"), idxDir).count())
      val (nScan, sScan) = timed(
        docs.crossJoin(broadcast(pats))
          .where(contains(lower(col("text")), col("pat")))
          .select(col("qid"), col("doc_id")).count())
      require(nIdx == nScan, s"index answered $nIdx rows, scan $nScan")
      // rows the index actually decodes: df of the selected grams
      val grams = pats.select(explode(expr(
        "array_distinct(transform(sequence(1, length(pat) - 2), i -> substr(pat, i, 3)))"))
        .as("gram"))
      val touched = spark.read.parquet(s"$idxDir/_model/df")
        .join(grams.distinct(), Seq("gram"))
        .agg(coalesce(sum(col("df")), lit(0L))).head.getLong(0)
      println(f"scenario38 trigram n=$nDocs: build $sBuild%.1f s (once); " +
        f"48-pattern search $sIdx%.2f s (touches <= $touched posting rows = " +
        f"${touched * 100.0 / (nDocs * 48)}%.3f%% of the scan's ${nDocs * 48} " +
        f"doc-pattern probes) vs full LIKE scan $sScan%.2f s; " +
        f"$nIdx matches both ways")
    }

    // scenario 39: skyline staircase vs the all-row window form at 50M
    // rows — the q192 path. Aggregate-first touches (group, size)
    // cells; the window form sorts every row per group.
    if (enabled(39)) {
      val rows = spark.range(n).select(
        (col("id") % 100).as("grp"),
        pmod(xxhash64(col("id")), lit(200)).cast("int").as("size"),
        pmod(xxhash64(col("id") + 7), lit(1000000)).as("price")).localCheckpoint()
      val (nSky, sSky) = timed(
        graft.ops.Frontier.skyline2d(rows, Seq("grp"), "size", "price").count())
      // the naive-but-still-scan form: per-row windows over ALL rows
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("grp")).orderBy(col("size").desc)
      val (nWin, sWin) = timed {
        val ranked = rows
          .withColumn("__own", min(col("price")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("grp"), col("size"))))
          .withColumn("__better", min(col("price")).over(
            wAll.rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        ranked.where(col("price") === col("__own") &&
          (col("__better").isNull || col("price") < col("__better"))).count()
      }
      require(nSky == nWin, s"staircase found $nSky, window form $nWin")
      println(f"scenario39 skyline n=$n groups=100: staircase $sSky%.1f s vs " +
        f"all-row window $sWin%.1f s (${sWin / sSky}%.1fx), frontier $nSky rows")
    }

    // scenario 40: deletion-neighborhood edit join over a 2M-string
    // dictionary with planted 1-typo pairs — candidates stay ~linear
    // (|V| * (L+1) variants), never the |V|^2 cross join.
    if (enabled(40)) {
      val nStr = 2000000L
      // random 16-hex strings (sparse in edit space — unlike dense
      // sequential ids, random pairs at d<=1 are vanishingly rare);
      // every 100th string also plants a copy with one char deleted
      val base = spark.range(nStr).select(
        lpad(hex(xxhash64(col("id"))), 16, "0").as("s"))
      val typos = spark.range(nStr / 100).select(
        lpad(hex(xxhash64(col("id") * 100)), 16, "0").as("t"))
        .select(concat(substring(col("t"), 1, 7), substring(col("t"), 9, 16)).as("s"))
      val dict = base.unionByName(typos).distinct().localCheckpoint()
      val t0 = System.nanoTime()
      val nPairs = graft.ops.Fuzzy.editSelfJoin(dict, col("s"), maxDistance = 1).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario40 fuzzy-join dict=${nStr + nStr / 100}: $s%.1f s, " +
        f"$nPairs pairs at d<=1 (>= ${nStr / 100} planted)")
    }

    // scenario 41: k-anonymity ladder at n rows — one corpus shuffle
    // to cells, level counts from the cell frame (the q194 shape), vs
    // the naive shuffle-per-level form.
    if (enabled(41)) {
      val rows = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(25)).as("nation"),
        pmod(xxhash64(col("id") + 1), lit(5)).as("seg"),
        pmod(xxhash64(col("id") + 2), lit(4000)).as("bal")).localCheckpoint()
      val quasi = Seq("nation" -> col("nation"), "seg" -> col("seg"),
        "bal" -> col("bal"))
      val ladder = Seq(Seq("nation", "seg", "bal"), Seq("nation", "seg"), Seq("seg"))
      val t0 = System.nanoTime()
      val kept = graft.ops.Privacy.kAnonymize(rows, quasi, ladder, k = 100).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"scenario41 k-anonymize n=$n cells=500k: $s%.1f s " +
        f"(${n / s / 1e6}%.1f M rows/s), $kept released")
    }

    // scenario 42: CUSUM scan + ordered fold at n events over 1M keys —
    // sequential recurrences as one keyed exchange each (q195/q196).
    if (enabled(42)) {
      val ev = spark.range(n).select(
        (col("id") % 1000000).as("k"), timestamp_micros(col("id")).as("t"),
        pmod(xxhash64(col("id")), lit(10000)).as("x")).localCheckpoint()
      val (nc, sc) = timed(graft.ops.Timeseries.cusum(ev, Seq("k"),
        col("t"), col("t"), col("x"), target = 5000L, threshold = 100000L).count())
      val (ne, se) = timed(graft.ops.Timeseries.ewmaHalf(ev, Seq("k"),
        col("t"), col("t"), col("x")).count())
      println(f"scenario42 sequential-stats n=$n keys=$nc: cusum $sc%.1f s " +
        f"(${n / sc / 1e6}%.1f M rec/s), fold-ewma $se%.1f s " +
        f"(${n / se / 1e6}%.1f M rec/s), $ne folded")
    }

    // scenario 43: the session-5 analytics batch at n rows — global
    // equi-depth binning (two-phase rank), per-event sessionization
    // (single-sort windows), and the one-scan correlation matrix.
    if (enabled(43)) {
      val ev = spark.range(n).select(
        (col("id") % 1000000).as("k"), timestamp_micros(col("id") * 3000000).as("t"),
        col("id").as("eid"),
        pmod(xxhash64(col("id")), lit(100000)).as("x"),
        pmod(xxhash64(col("id") + 1), lit(100000)).as("y")).localCheckpoint()
      val (nb, sb) = timed(graft.ops.Quantiles.quantileBins(
        ev, col("eid"), col("x"), 16).count())
      val (ns, ss) = timed(graft.ops.EventTimeWindows.sessionize(
        ev, Seq("k"), col("t"), col("eid"), gapMs = 3600000L).count())
      val (nc, sc) = timed(graft.ops.Checks.correlations(
        ev, Seq("x" -> col("x"), "y" -> col("y"), "k" -> col("k"))).count())
      println(f"scenario43 analytics n=$n: quantile-bins $sb%.1f s " +
        f"(${n / sb / 1e6}%.1f M rows/s, $nb binned), sessionize $ss%.1f s " +
        f"(${n / ss / 1e6}%.1f M rows/s), correlations(3 cols, $nc pairs) " +
        f"$sc%.1f s (${n / sc / 1e6}%.1f M rows/s)")
    }

    // scenario 44: nearest join, Gini, and rolling windows at n rows —
    // the q216/q213/q212 shapes.
    if (enabled(44)) {
      val ev = spark.range(n).select(
        (col("id") % 1000000).as("k"), col("id").as("t"),
        pmod(xxhash64(col("id")), lit(100000)).as("x")).localCheckpoint()
      val left = ev.where(col("x") % 10 === 0)
      val right = ev.where(col("x") % 10 === 1)
      val (nn, sn) = timed(graft.ops.Joins.asofNearest(left, right,
        col("k"), col("k"), col("t"), col("t"), Seq("x" -> col("x"))).count())
      val (ng, sg) = timed(graft.ops.Quantiles.giniByKey(
        ev, Seq("k"), col("x")).count())
      val (nr, sr) = timed(graft.ops.Timeseries.rolling(
        ev, Seq("k"), (col("t") % 64).cast("long"), col("x"), 7L).count())
      println(f"scenario44 temporal n=$n keys=1M: nearest-join $sn%.1f s " +
        f"(${n / sn / 1e6}%.1f M rows/s, $nn matched), gini $sg%.1f s " +
        f"(${n / sg / 1e6}%.1f M rows/s, $ng groups), rolling $sr%.1f s " +
        f"(${n / sr / 1e6}%.1f M rows/s, $nr cells)")
    }

    // scenario 45: incremental join-view maintenance + hashing-trick
    // featurizer at n change rows — the q228/q230 shapes. The view
    // folds B CDC batches (deltas broadcast onto standing-side scans);
    // throughput is total change rows over total fold time, the
    // number a pipeline sizing its trigger interval needs.
    if (enabled(45)) {
      val base = graft.core.TempDirs.create("bench_joinview") + "/jv"
      val batches = 8
      val keys = math.max(n / 4, 1L)
      val changes = spark.range(n).select(
        (col("id") % 2 === 0).as("is_left"),
        // hash the key so sides share the key space (id%2 and id%keys
        // correlate when keys is even — disjoint sides, empty view)
        pmod(xxhash64(col("id") / 2), lit(keys)).as("k"),
        col("id").as("lv"), col("id").as("rv"),
        (col("id") % batches).as("b")).localCheckpoint()
      import spark.implicits._
      graft.ops.JoinView.init(spark, base,
        Seq.empty[(Long, Long)].toDF("k", "lv"),
        Seq.empty[(Long, Long)].toDF("k", "rv"), Seq("k"))
      val folds = graft.ops.JoinView.folds(spark, base, Seq("k"),
        col("is_left"),
        b => b.select(col("k"), col("lv")),
        b => b.select(col("k"), col("rv")))
      val t0 = System.nanoTime()
      (0 until batches).foreach { i =>
        graft.core.Catalog.ingest(spark, base, i.toLong,
          changes.where(col("b") === i).drop("b"), folds)
      }
      val sv = (System.nanoTime() - t0) / 1e9
      val viewRows = graft.ops.JoinView.read(spark, base).count()
      val docs = spark.range(n / 100).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("tok"), pmod(xxhash64(col("id") + i), lit(5000)))): _*)
          .as("text")).localCheckpoint()
      val t1 = System.nanoTime()
      val nb = graft.ops.TextAnalysis.hashedBow(docs, col("doc_id"),
        col("text"), buckets = 1 << 18).count()
      val sh = (System.nanoTime() - t1) / 1e9
      val toks = (n / 100) * 40
      println(f"scenario45 joinview+bow: $n change rows / $batches folds " +
        f"$sv%.1f s (${n / sv / 1e6}%.2f M rows/s, view $viewRows), " +
        f"hashedBow $toks tokens $sh%.1f s (${toks / sh / 1e6}%.1f M tok/s, $nb cells)")
    }

    // scenario 46: BANDED CDC join view — the scenario-45 finding
    // closed. 45 showed the insert-only view's per-fold cost growing
    // with accumulated view size (a Catalog generation is a full
    // replacement). The banded CDC variant folds only the bands a
    // batch touches; with bands sized to a constant row target (the
    // initCdc guidance), per-fold cost is touched-bands × band-target
    // — measured here as the SAME clustered delta stream applied to a
    // 10×-bigger view with 10× the bands: per-fold time must stay
    // ~flat where the unbanded design grew ~10×.
    if (enabled(46)) {
      import graft.ops.JoinView
      val batches = 8
      val batchRows = 2000
      val results = Seq((200000L, 8), (2000000L, 80)).map { case (viewRows, bands) =>
        val base = graft.core.TempDirs.create(s"bench_jvcdc_$bands") + "/jv"
        JoinView.initCdc(spark,
          base,
          spark.range(viewRows).select(col("id").as("k"), col("id").as("lv")),
          spark.range(viewRows).select(col("id").as("k"), col("id").as("rv")),
          Seq("k"), bands)
        // clustered delta keys: confined to 4 bands in EACH config —
        // the locality regime banding exists for (recent/hot keys)
        val pool = spark.range(viewRows)
          .where(pmod(hash(col("id")), lit(bands)) < 4)
          .limit(batches * batchRows).select(col("id"))
          .collect().map(_.getLong(0))
        require(pool.length == batches * batchRows,
          s"scenario46: key pool too small (${pool.length})")
        import spark.implicits._
        def slice(i: Int) = pool.slice(i * batchRows, (i + 1) * batchRows)
        val foldS = (0 until batches).map { i =>
          // insert a new right row per key; retract 20% of the previous
          // batch's inserts — real CDC churn, not append-only
          val ins = slice(i).map(k => ("+I", false, k, -1L, k + 1000000L + i))
          val del = if (i == 0) Array.empty[(String, Boolean, Long, Long, Long)]
            else slice(i - 1).take(batchRows / 5)
              .map(k => ("-D", false, k, -1L, k + 1000000L + (i - 1)))
          val b = (ins ++ del).toSeq.toDF("op", "is_left", "k", "lv", "rv")
          val t0 = System.nanoTime()
          JoinView.ingestCdc(spark, base, i.toLong, b, col("is_left"), "op",
            Seq(col("k"), col("lv")), Seq(col("k"), col("rv")))
          (System.nanoTime() - t0) / 1e9
        }
        val med = foldS.sorted.apply(foldS.size / 2)
        println(f"scenario46 banded-cdc view=$viewRows bands=$bands: " +
          f"median fold ${med * 1000}%.0f ms (folds: ${
            foldS.map(s => f"${s * 1000}%.0f").mkString(", ")} ms)")
        med
      }
      println(f"scenario46 flatness: 10x view -> ${results(1) / results(0)}%.2f x " +
        "median fold time (unbanded design: ~10x)")
    }

    // scenario 3: chained pipeline (flatMap-ish expansion + agg)
    if (enabled(3)) time("scenario3 chained") {
      records
        .withColumn("k", col("value") % 50)
        .where(col("value") =!= 13)
        .groupBy(col("k"))
        .agg(count(lit(1)), min(col("id")), max(col("id")), avg(col("value")))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
