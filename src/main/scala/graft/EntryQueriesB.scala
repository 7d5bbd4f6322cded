package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables
import graft.EntryHelpers._

/** [[SparkEntry.queries]] chunk 2/4 (q58_mixture_sample … q201_quantile_bins),
  * in the contract's declaration order — split out of SparkEntry purely
  * for navigability; SparkEntry concatenates the chunks unchanged.
  */
private[graft] object EntryQueriesB {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q58_mixture_sample" -> ((s, d) =>
      Sampling.mixtureSample(Tables(s, d).documents, col("doc_id"), col("source"),
        Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
        defaultWeight = 0.125)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))),
    "q59_seq_packing" -> ((s, d) =>
      Packing.packSequences(Tables(s, d).documents, col("doc_id"),
          TextAnalysis.tokenCount(col("text")), windowTokens = 512)
        .select(col("ord_key").as("doc_id"), col("n_tok"), col("bin"))),
    "q60_top_tokens" -> ((s, d) =>
      TextAnalysis.topTokensPerGroup(Tables(s, d).documents, col("lang"), col("text"), k = 10)
        .select(col("grp").as("lang"), col("word"), col("cnt"), col("rk"))),
    "q61_corpus_pipeline" -> ((s, d) => {
      // the operators composed as a real training-data pipeline: quality
      // gate → exact-dedup keep-first → domain mixture → per-language
      // token budget. One narrow scan feeds the quality+fingerprint pass;
      // only (fp, id) pairs shuffle for the dedup; the mixture filter is
      // a narrow predicate; the final agg is partial-aggregated.
      val docs = Tables(s, d).documents
      val quality = TextAnalysis.qualityProfile(docs, col("text"))
        .where(col("quality_keep"))
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val keepIds = Dedup.exact(quality, col("doc_id"), col("text"))
        .select(col("keep_id").as("doc_id"))
      val deduped = quality.join(keepIds, "doc_id")
      Sampling.mixtureSample(deduped, col("doc_id"), col("source"),
          Map("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.25),
          defaultWeight = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
    }),
    "q62_asof_join" -> ((s, d) => {
      // last click at-or-before each purchase, per user (the attribution
      // lookup the reference's interval join approximates with a band).
      // Right side pre-aggregated to one row per (user, ms) so the as-of
      // winner is unique and deterministic.
      val e = Tables(s, d).events
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("p_ms"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), unix_millis(col("ts")).as("c_ms"))
        .agg(max(col("event_id")).as("click_id"))
      Joins.asofJoin(purchases, clicks,
          col("user_id"), col("c_user"), col("p_ms"), col("c_ms"),
          Seq("click_id" -> col("click_id"), "click_ms" -> col("c_ms")))
        .select(col("event_id"), col("user_id"), col("p_ms"),
          col("asof.click_id").as("click_id"), col("asof.click_ms").as("click_ms"))
    }),
    "q63_salient_terms" -> ((s, d) =>
      TextAnalysis.salientTerms(Tables(s, d).documents, col("doc_id"), col("text"), k = 3)),
    "q64_approx_top_tokens" -> ((s, d) =>
      // sketch-based frequent items (Spark 4 approx_top_k): the bounded-
      // memory path for heavy-hitter tokens when the vocabulary itself
      // doesn't fit per-executor memory. The sketch contract is EXACT
      // while maxItemsTracked exceeds the live vocabulary (ExtensionsSpec
      // holds that bar), and the testdata vocabulary is far below the 10k
      // tracked here — so after a DETERMINISTIC re-rank of the sketch
      // output (count desc, word asc; the raw sketch's order at a tied
      // k-th place is engine-internal) the query is DuckDB-oracle-checked
      // end to end. Ask the sketch for 50 items (> vocab) so the exactness
      // regime, not the sketch's own boundary tie-break, decides the top 10.
      Tables(s, d).documents
        .select(explode(Stateless.tokens(col("text"))).as("word"))
        .agg(expr("approx_top_k(word, 50, 10000)").as("top"))
        .select(explode(col("top")).as("t"))
        .select(struct((-col("t.count")).as("nc"), col("t.item").as("word")).as("s"))
        .agg(graft.functions.Kernels.collect_bottom_k(col("s"), 10).as("top10"))
        .select(posexplode(col("top10")).as(Seq("pos", "s")))
        .select(col("s.word").as("word"), (-col("s.nc")).as("cnt"),
          (col("pos") + 1).cast("long").as("rk"))),
    "q65_stratified_take" -> ((s, d) =>
      Sampling.stratifiedTake(Tables(s, d).documents, col("doc_id"), col("source"), n = 5)
        .select(col("dom").as("source"), col("key").as("doc_id"), col("rk"))),
    "q66_decontaminate" -> ((s, d) => {
      // every 50th document plays the benchmark set; training docs
      // containing >= 30% of a benchmark doc's 3-gram shingles are flagged
      val docs = Tables(s, d).documents
      Decontamination.containmentPairs(
        docs.where(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
        docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"),
        n = 3, threshold = 0.3)
    }),
    "q67_chunking" -> ((s, d) =>
      TextAnalysis.chunk(Tables(s, d).documents, col("doc_id"), col("text"),
        chunkTokens = 32, stride = 24)),

    "q73_token_budget" -> ((s, d) =>
      // token-budget mixture selection: per source, admit docs in md5
      // order until the source's token budget fills (budgets sized to
      // truncate every source at sf0.01 — ~27.5k corpus tokens total)
      Sampling.tokenBudgetSample(Tables(s, d).documents,
          col("doc_id"), col("source"), TextAnalysis.tokenCount(col("text")),
          Map("src0" -> 3000L, "src1" -> 2000L, "src2" -> 1000L),
          defaultBudget = 500L)
        .select(col("key").as("doc_id"), col("dom").as("source"),
          col("n_tok"), col("prefix_excl"))),
    "q74_dup_spans" -> ((s, d) =>
      // substring-level dedup detection: maximal token spans shared by
      // >= 2 distinct documents (8-gram fingerprints, merged hits)
      SpanDedup.duplicateSpans(
        ScanLayout.fanOut(Tables(s, d).documents.select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"), n = 8)),
    "q75_span_scrub" -> ((s, d) =>
      // keep-first substring scrub: every duplicated 8-gram occurrence
      // except the corpus-wide first is removed; text rebuilt outside the
      // merged removal spans
      SpanDedup.scrubDuplicateSpans(
        ScanLayout.fanOut(Tables(s, d).documents.select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"), n = 8)),
    "q87_sq8_topk" -> ((s, d) => {
      // scalar-quantized ANN: per-dimension int8 codes against corpus
      // min/max, dequantized squared-L2 ranking — the 4x end of the
      // quantization spectrum (PQ is the 32x end)
      val em = Tables(s, d).embeddings
      Similarity.sq8TopK(em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, dim = 64)
    }),
    "q88_kmeans_assign" -> ((s, d) => {
      // fixed-point Lloyd's k-means (k=8, 2 iterations) over the
      // embeddings — every quantity an integer (floor-quantized vectors,
      // integer squared-L2, truncating-division update), so the oracle
      // replays the identical fit unrolled in SQL
      val em = Tables(s, d).embeddings
      KMeans.assign(em, col("vec_id"), col("embedding"),
        KMeans.fit(em, col("vec_id"), col("embedding"), k = 8, iters = 2))
    }),
    "q89_kmeans_ivf_topk" -> ((s, d) => {
      // IVF ANN with a TRAINED coarse quantizer (FAISS IndexIVF.train):
      // k-means cells replace the raw corpus sample of q42
      val em = Tables(s, d).embeddings
      KMeans.ivfTopKTrained(em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, nCells = 8, iters = 2, nProbe = 4)
    }),
    "q90_kmeans_semdedup" -> ((s, d) => {
      // SemDeDup: k-means-cluster the embeddings, then drop every row
      // with a lower-id near-duplicate (cosine >= 0.95) in its own
      // cluster. Same planted corpus as q45 (the sf embeddings have no
      // real near-dups), so exactly the planted copies die.
      val em = Tables(s, d).embeddings
      val base = em.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = em.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * (lit(1.0) + lit(0.01) * (i % 3 - 1))).as("v"))
      KMeans.semanticDedup(base.union(planted), col("id"), col("v"),
        k = 8, iters = 2, threshold = 0.95)
    }),
    "q91_quality_classify" -> ((s, d) =>
      // linear quality-classifier inference (the fastText/C4-style gate):
      // integer fixed-point features + dot product + sign threshold, one
      // narrow codegen'd pass, bit-identical across engines
      // fanOut: local single-file layout only (guide §2.5) — the
      // inference pass itself stays narrow and codegen'd; at scale the
      // guard is false and the plan is exchange-free as pinned
      Classifier.qualityClassify(
        ScanLayout.fanOut(Tables(s, d).documents.select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"))),
    "q92_zorder_value" -> ((s, d) =>
      // the Morton (Z-order) layout key over (l_partkey, l_suppkey) —
      // integer min/max normalization + bit interleave, the curve
      // zorderWrite clusters files by for multi-column scan pruning
      Layout.withZValue(Tables(s, d).lineitem,
          Seq(col("l_partkey"), col("l_suppkey")), bits = 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("zval"))),
    "q97_priority_sample" -> ((s, d) =>
      // weight-proportional sample without replacement (priority
      // sampling): longer documents proportionally likelier, no RNG
      // state, the k-smallest-priority rank is a TakeOrderedAndProject
      Sampling.prioritySample(Tables(s, d).documents,
          col("doc_id"), col("n_chars"), k = 100)
        .select(col("doc_id"), col("n_chars"))),
    "q98_cdc_chunks" -> ((s, d) =>
      // content-defined chunking: boundaries where the rolling window
      // hash has its low 4 bits clear (expected chunk ~16 tokens) —
      // chunk identities survive edits elsewhere in the document, the
      // property that makes chunk-level dedup incremental
      TextAnalysis.cdcChunks(Tables(s, d).documents,
        col("doc_id"), col("text"), window = 5, maskBits = 4)),
    "q99_stratified_priority" -> ((s, d) =>
      // weighted sample without replacement PER SOURCE (10 docs each,
      // longer docs proportionally likelier) — per-stratum quotas with
      // PPS weighting; map-side WindowGroupLimit bounds the exchange
      Sampling.prioritySamplePerKey(Tables(s, d).documents,
          col("source"), col("doc_id"), col("n_chars"), k = 10)
        .select(col("source"), col("doc_id"), col("n_chars"))),
    "q101_bpe_encode" -> ((s, d) => {
      // the full BPE lifecycle: train 8 merges on the corpus (one
      // corpus pass + vocab-sized rounds, one bounded single-row
      // collect each — the trainer's documented pattern), then encode
      // the whole vocabulary with the trained merges. Any wrong merge,
      // tie-break, or fold behavior changes the encodings.
      val docs = Tables(s, d).documents
      val merges = Bpe.trainMerges(docs, col("text"), numMerges = 8)
      Bpe.wordFreq(docs, col("text"))
        .select(col("word"), col("freq"),
          Bpe.encodeWord(col("word"), merges).as("syms"))
        .select(col("word"), col("freq"),
          size(col("syms")).cast("long").as("n_tok"),
          array_join(col("syms"), " ").as("toks"))
    }),
    "q102_bm25_topk" -> ((s, d) =>
      // lexical retrieval: BM25 top-10 per query, the classic k1/b
      // saturation curve in exact integer fixed point (bitlen idf,
      // cleared-denominator rationals — bit-identical across engines);
      // the lexical complement of q39/q42's embedding ANN
      Bm25Index.topK(Tables(s, d).documents, col("doc_id"), col("text"),
        bm25Queries(s), col("qid"), col("qtext"), k = 10)),
    "q112_changelog_apply" -> ((s, d) => {
      // CDC MERGE: a latest-wins upsert/delete log applied to a keyed
      // snapshot. %11 keys (absent from the snapshot) re-inserted at
      // seq 1, %7 custkeys bumped at seq 2, %13 deleted at seq 3 —
      // overlapping keys (77, 91, 143, ...) exercise latest-wins; the
      // winner collapse is a partial max-struct aggregate, never a
      // log-wide window (plan-asserted in DiffSpec)
      val o = Tables(s, d).orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val snapshot = o.where(col("o_orderkey") % 11 =!= 0)
      val changes = o.where(col("o_orderkey") % 11 === 0)
        .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
        .unionByName(o.where(col("o_orderkey") % 7 === 0)
          .withColumn("o_custkey", col("o_custkey") + 1000000L)
          .withColumn("seq", lit(2L)).withColumn("op", lit("U")))
        .unionByName(o.where(col("o_orderkey") % 13 === 0)
          .withColumn("seq", lit(3L)).withColumn("op", lit("D")))
      Diff.applyChangelog(snapshot, changes, Seq("o_orderkey"), "seq", "op")
    }),
    "q113_scd2" -> ((s, d) =>
      // SCD-2 history: each user's event log becomes versioned state
      // rows with [valid_from, valid_to) event-id bounds and an
      // is_current flag — ONE keyed exchange (the lead window);
      // (user_id, event_id) uniqueness fail-fast
      Diff.scd2(Tables(s, d).events
          .select(col("user_id"), col("event_id"), col("event_type")),
        Seq("user_id"), "event_id")),
    "q114_temporal_join" -> ((s, d) => {
      // point-in-time lookup: every non-purchase event attaches the
      // user's purchase version in force at that event id — scd2 builds
      // the dimension, temporalJoin resolves it in ONE keyed exchange
      // (no join node; plan-asserted in DiffSpec)
      val e = Tables(s, d).events
      val dim = Diff.scd2(
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("version_id"),
            col("value").as("version_value")),
        Seq("user_id"), "version_id")
      Diff.temporalJoin(
        e.where(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_id"), col("event_type")),
        dim, Seq("user_id"), "event_id", "version_id", "valid_to",
        Seq("version_id", "version_value"))
    }),
    "q116_trend" -> ((s, d) =>
      // per-supplier shipment-quantity trend over ship-day: closed-form
      // OLS from the five sums in ONE partial-aggregated scan, integer
      // fixed point (milli-units) so every engine agrees bit-for-bit;
      // x shifted to a small base offset to keep products in Long range
      Trend.fit(
        Tables(s, d).lineitem.select(col("l_suppkey"),
          // l_shipdate reads as TIMESTAMP_NTZ from parquet; unix_millis
          // needs LTZ — the cast is deterministic because the session
          // timezone is pinned UTC in GraftSession
          (dayBucket(col("l_shipdate").cast("timestamp")) - 9000).as("x"),
          col("l_quantity").cast("long").as("y")),
        Seq("l_suppkey"), "x", "y", scale = 1000L)),
    "q115_gap_fill" -> ((s, d) =>
      // 6-hour resample of each user's purchase value with forward
      // fill — the spine comes from a key-sized bounds aggregate, the
      // fill is one keyed window, no join anywhere (plan-asserted in
      // TimeseriesSpec); dup (user, ms) collapsed first for determinism
      Timeseries.gapFill(
        Tables(s, d).events.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), unix_millis(col("ts")).as("ms"))
          .agg(max(col("value")).as("value")),
        Seq("user_id"), "ms", 21600000L, Seq("value"))),
    "q190_ks_drift" -> ((s, d) => {
      // EXACT two-sample KS distance per group — the numeric drift
      // monitor between loads: even- vs odd-key orders per priority,
      // D = max |F_a - F_b| with ties resolved by the RANGE frame and
      // the statistic kept in integers (d_num / (n_a*n_b)) so it is
      // exact and hash-stable. One union scan + one group-partitioned
      // ordered window — KS is an ordered-traversal statistic, and
      // the partitioning keeps the sort group-local, never global.
      val o = Tables(s, d).orders.select(col("o_orderpriority").as("pri"),
        col("o_orderkey"), (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
      Quantiles.ksDistance(
        o.where(col("o_orderkey") % 2 === 0).select(col("pri"), col("cents")),
        o.where(col("o_orderkey") % 2 =!= 0).select(col("pri"), col("cents")),
        Seq("pri"), col("cents"))
    }),
    "q188_table_profile" -> ((s, d) =>
      // ANALYZE-style exact column profile in ONE scan — rows, nulls,
      // exact distinct count, double-cast min/max per column: the
      // stats broadcast and skew decisions read at 100 TB, and the
      // baseline a pipeline monitors between loads. The multiple
      // exact count_distincts share the scan via Expand (the honest
      // cost of exactness; the theta stores are the continuous form).
      Checks.profile(Tables(s, d).lineitem,
        Seq("l_suppkey", "l_quantity", "l_extendedprice", "l_tax"))),
    "q111_quality_checks" -> ((s, d) =>
      // data-quality gate: five named rules over lineitem in ONE
      // partial-aggregated scan (a rule suite never costs a scan per
      // rule); null rule results count as violations
      Checks.validate(Tables(s, d).lineitem, qualityRules)),
    "q117_quality_checks_stream" -> ((s, d) => {
      // q111's STREAMING twin made oracle-visible: replay lineitem as an
      // 8-micro-batch file stream (re-chunked copy, maxFilesPerTrigger=1),
      // run the running gate in complete output mode, return the final
      // totals. By the parity contract (ChecksSpec: stream == batch over
      // the union after the last batch) the result equals the batch gate,
      // so the oracle IS q111's — batching never changes exact counts.
      val li = Tables(s, d).lineitem
      // replay input written once per (process, sf dir) — bench repeats
      // measure the streaming replay, not parquet re-chunking
      val tmp = Fixtures.once("q117_replay", d) {
        val t = graft.core.TempDirs.create("graft_q117")
        li.repartition(8).write.mode("overwrite").parquet(s"$t/in")
        t
      }
      // a stateful micro-batch commits one state-store instance per
      // shuffle partition per trigger; the gate's state is R=5 rows, so
      // core-count partitions pay ~8x per-batch overhead for empty
      // stores (GraftSession.forStreaming rule). Pin small, restore.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "2")
      try {
        val gate = Checks.validateStream(
          s.readStream.schema(li.schema).option("maxFilesPerTrigger", 1)
            .parquet(s"$tmp/in"),
          qualityRules)
        val q = gate.writeStream.format("memory").queryName("graft_q117_gate")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table("graft_q117_gate")
    }),
    "q110_triangles" -> ((s, d) => {
      // per-vertex triangle counts over a deterministic md5-derived doc
      // graph (3 pseudo-random neighbors per doc) — degree orientation
      // keeps wedge fan-out O(sqrt m) even on hubs
      val docs = Tables(s, d).documents.select(col("doc_id"))
      val edges = docs.select(col("doc_id").as("x"),
        explode(array((0 to 2).map(i =>
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":"), lit(i.toString))), 1, 8), 16, 10).cast("long") % 500L): _*)).as("y"))
      Graphs.triangles(edges, col("x"), col("y"))
    }),
    "q109_exact_percentiles" -> ((s, d) =>
      // EXACT p50/p90/p99 of lineitem price (in cents — integral) by
      // range-bisection selection: no global sort, no value collection,
      // ~3 histogram scans with pushed range filters
      // fanOut: the single-file local scan would serialize the decimal
      // projection feeding every bisection pass on one core (no-op at
      // scale — guide §2.5 unsplittable-input rule)
      Quantiles.percentiles(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_extendedprice"))).select(
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        col("cents"), Seq(50, 90, 99))),
    "q121_groupwise_median" -> ((s, d) =>
      // EXACT per-supplier median price (cents) — every group bisects
      // its own range simultaneously: group-sized bounds broadcast, per-
      // pass (group × ≤4096)-row histograms, no per-group sort, no
      // value buffering (Spark's exact percentile agg would buffer every
      // value of a group in one buffer — the 100 TB OOM path)
      Quantiles.exactPercentileByKey(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_suppkey"), col("l_extendedprice"))).select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        Seq("l_suppkey"), col("cents"), 50)),
    "q186_mad_outliers" -> ((s, d) =>
      // EXACT robust outlier screen — per-supplier median + MAD over
      // price cents, both by range bisection (no per-group sort, no
      // value buffering), then |x − median| > 3·MAD counted per
      // group. The classical z-score breaks on the very outliers it
      // hunts (mean and stddev absorb them); median/MAD has a 50%
      // breakdown point — the robust form a data-quality monitor
      // actually wants. Oracle replays BOTH medians under q121's
      // exact rank convention, then the same count.
      Quantiles.madOutliers(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_suppkey"), col("l_extendedprice"))).select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        Seq("l_suppkey"), col("cents"))),
    "q221_kwic" -> ((s, d) => {
      // KEYWORD IN CONTEXT — TrigramIndex.searchWithContext: q191's
      // substring hits with the first match's position and an
      // edge-clipped 15-char-each-side snippet (the grep -C of the
      // standing index; per-hit work only). Oracle replays instr +
      // the same clipped substring arithmetic.
      val idx = trigramIndex(s, d)
      import s.implicits._
      val qs = Seq((0L, "ge bat"), (1L, "le sor"), (2L, "rt join"))
        .toDF("qid", "pat")
      TrigramIndex.searchWithContext(s, qs, col("qid"), col("pat"),
        Tables(s, d).documents, col("doc_id"), col("text"), idx, context = 15)
    }),
    "q220_cdf_rank" -> ((s, d) => {
      // EMPIRICAL-CDF SCORING — Quantiles.cdfRank: odd-day events
      // scored against the even-day reference distribution per event
      // type: the exact fraction of reference values <= each event's
      // cents (1e4 fixed point) — row-grain anomaly scoring vs a
      // baseline. The reference collapses to its distinct-value CDF;
      // queries attach the floor entry via the as-of union trick over
      // the VALUE domain — no range join. Oracle: the naive per-row
      // count over the key-pair join.
      val e = Tables(s, d).events.select(col("event_id"),
        col("event_type").as("k"),
        (dayBucket(col("ts")) % 2).as("par"),
        (dec(col("value")) * 100).cast("long").as("cents"))
      Quantiles.cdfRank(
        e.where(col("par") === 1).select(col("event_id"), col("k"), col("cents")),
        col("k"), col("cents"),
        e.where(col("par") === 0), col("k"), col("cents"))
    }),
    "q219_funnel_latency" -> ((s, d) =>
      // CONVERSION-LATENCY DISTRIBUTION — Funnel.conversionLatency →
      // Quantiles.percentiles: the time from first view to the
      // purchase that completes the funnel, exact p50/p90/p99 over
      // converting users by range bisection (no sort, no value
      // collection). Oracle replays q106's chained conditional mins,
      // then the q121 rank convention over the latencies.
      Quantiles.percentiles(
        Funnel.conversionLatency(Tables(s, d).events, col("user_id"),
          col("event_type"), col("ts"), Seq("view", "click", "purchase")),
        col("latency_us"), Seq(50, 90, 99))),
    "q218_rolling_wau" -> ((s, d) =>
      // ROLLING DISTINCT ACTIVES — Timeseries.rollingDistinct: the
      // DAU/WAU curve, exact. COUNT DISTINCT can't ride a window
      // frame; each distinct (user, day) activity EXPLODES its
      // 7-tick contribution span, then one exact distinct aggregate
      // per report day — |activity|×7 work, linear. Gap days inside
      // the span still report. Oracle replays the contribution join.
      Timeseries.rollingDistinct(Tables(s, d).events,
        dayBucket(col("ts")), col("user_id"),
        windowTicks = 7L)),
    "q217_peak_sessions" -> ((s, d) => {
      // PEAK CONCURRENCY — Timeseries.maxConcurrency over q207's
      // session intervals: the most user sessions simultaneously
      // active, and the earliest microsecond attaining it (capacity
      // ceilings). Tick aggregation makes the sweep order-unambiguous
      // and collapses the data before the distributed running sum.
      // Oracle replays sessionize, the interval roll-up, and the sweep.
      val sess = EventTimeWindows.sessionize(Tables(s, d).events,
        Seq("user_id"), col("ts"), col("event_id"), gapMs = 30L * 60 * 1000)
      val iv = sess.groupBy(col("user_id"), col("session_idx"))
        .agg(min(col("us")).as("s"), max(col("us")).as("e"))
      Timeseries.maxConcurrency(iv, col("s"), col("e"))
    }),
    "q216_nearest_join" -> ((s, d) => {
      // NEAREST-IN-TIME JOIN — Joins.asofNearest: each error event
      // attaches its user's CLOSEST purchase (either direction, ties
      // to the earlier) — where q62's backward-only as-of would skip a
      // purchase seconds later. One keyed union exchange, one sort
      // serving both directions, no join node. Oracle: per-left min
      // |dt| with the (distance, earlier) pick over the key-pair join.
      val ev = Tables(s, d).events
      val l = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val r = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("rus"),
          (dec(col("value")) * 100).cast("long").as("cents"))
      Joins.asofNearest(l, r, col("user_id"), col("user_id"),
        col("us"), col("rus"), Seq("cents" -> col("cents")))
        .select(col("user_id"), col("event_id"), col("us"),
          col("nearest.cents").as("nearest_cents"), col("nearest_dt"))
    }),
    "q215_vocab_canonicalize" -> ((s, d) => {
      // VOCAB CANONICALIZATION — the typo-clustering composition:
      // Fuzzy.editSelfJoin (d ≤ 1 pairs) → lexicographic ids via
      // Sampling.rankBy → Clusters.connectedComponents → every word
      // maps to its cluster's lexicographically-smallest member
      // (singletons map to themselves). The entity-resolution shape:
      // candidate pairs, transitive closure, canonical representative.
      // Oracle: recursive min-STRING-label reachability (q55's CC
      // convention seeded from every word).
      val p = Tables(s, d).part
      val words = p.select(explode(split(col("p_name"), " ")).as("w"))
        .unionByName(p.select(explode(split(col("p_type"), " ")).as("w")))
        .unionByName(p.select(explode(split(col("p_brand"), " ")).as("w")))
        .unionByName(Tables(s, d).documents
          .select(explode(split(lower(col("text")), " ")).as("w")))
        .where(length(col("w")) > 0).select(lower(col("w")).as("w"))
        .distinct().localCheckpoint()
      val ids = Sampling.rankBy(words, col("w"), col("w"))
        .select(col("key").as("w"), col("rank").as("id")).localCheckpoint()
      val pairs = Fuzzy.editSelfJoin(words, col("w"), maxDistance = 1)
      val edges = pairs
        .join(ids.select(col("w").as("a"), col("id").as("ida")), Seq("a"))
        .join(ids.select(col("w").as("b"), col("id").as("idb")), Seq("b"))
      val cc = Clusters.connectedComponents(edges, col("ida"), col("idb"))
      ids.join(cc.select(col("id"), col("cluster")), Seq("id"), "left")
        .withColumn("__comp", coalesce(col("cluster"), col("id")))
        .join(ids.select(col("id").as("__comp"), col("w").as("canon")),
          Seq("__comp"))
        .select(col("w"), col("canon"))
    }),
    "q214_join_skew" -> ((s, d) =>
      // JOIN-SKEW REPORT — Checks.joinSkewReport: the exact per-key
      // join-output contributions, total cardinality, and hot-key
      // shares BEFORE the join runs (the salting/broadcast decision
      // input). Events self-joined on event_type: two count
      // aggregates, a key-sized join, a key-sized top-k — the
      // row-sized data never joins. Oracle replays counts, HUGEINT
      // products, and the (contrib desc, key) pick.
      Checks.joinSkewReport(Tables(s, d).events, col("event_type"),
        Tables(s, d).events, col("event_type"), k = 3)),
    "q213_gini" -> ((s, d) =>
      // GINI CONCENTRATION — Quantiles.giniByKey: how concentrated is
      // each supplier's revenue across its line items, in exact 1e4
      // fixed point (G = (2·Σi·x_(i) − (n+1)·Σx)/(n·Σx), moment in
      // DECIMAL(38,0), truncating div — the numerator is ≥ 0 so
      // DuckDB's floor // replays it). The corpus/source balance
      // audit's inequality screen. One group-local sort, one
      // partitioning-sharing aggregate.
      Quantiles.giniByKey(
        Tables(s, d).lineitem.select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        Seq("l_suppkey"), col("cents"))),
    "q212_rolling_sum" -> ((s, d) =>
      // TRAILING ROLLING AGGREGATE — Timeseries.rolling: per user per
      // day, the day's revenue cents plus the trailing-7-day sum and
      // active-day count via a RANGE frame on the day grain (gaps
      // contribute nothing by construction — no dense spine). The
      // row-sized data exchanges once, partially aggregated; the
      // window moves only the day-sized frame. Oracle replays the
      // identical RANGE window.
      Timeseries.rolling(Tables(s, d).events, Seq("user_id"),
        dayBucket(col("ts")),
        (dec(col("value")) * 100).cast("long"), windowTicks = 7L)),
    "q211_basket_lift" -> ((s, d) =>
      // MARKET-BASKET LIFT — Cohorts.basketLift: co-occurrence lift of
      // event-type pairs within (user, day) baskets, in EXACT 1e4
      // fixed point ((N·n_ab·10000) div (n_a·n_b) — no float). One
      // distinct pass, a basket-keyed self-join bounded by per-basket
      // item counts, broadcast item totals. Oracle replays the same
      // integer arithmetic.
      Cohorts.basketLift(Tables(s, d).events,
        Seq(col("user_id"), dayBucket(col("ts"))),
        col("event_type"))),
    "q210_sessionize_stream" -> ((s, d) => {
      // CONTINUOUS SESSIONIZATION — EventTimeWindows.sessionizeStream:
      // q207's labeling live, sessions CONTINUING across micro-batch
      // cuts through per-key state (last event time, session count,
      // current-session length) folded exactly-once under the
      // SwapStore ledger. Cold start + 6 event-time-ordered slices, so
      // the concatenated batch outputs must equal q207's one-shot
      // labeling — its window oracle gates the lifecycle.
      val ev = Tables(s, d).events.select(col("user_id"), col("ts"),
        col("event_id"))
      withShufflePartitions(s, 8) {
        val p = graft.core.TempDirs.create("graft_q210_store") + "/sess"
        EventTimeWindows.initSessionStore(ev.where(lit(false)),
          Seq("user_id"), col("ts"), col("event_id"), 30L * 60 * 1000, p)
        val stage = screenReplayDir(s"$d#q210", ev, unix_micros(col("ts")), 6)
        val stream = graft.streaming.Replay.orderedStream(s, stage, ev.schema)
        collectScreenBatches(s) { onBatch =>
          EventTimeWindows.sessionizeStream(s, stream, Seq("user_id"),
            col("ts"), col("event_id"), gapMs = 30L * 60 * 1000, p,
            ephemeralOk = true)(onBatch)
        }
      }
    }),
    "q207_sessionize" -> ((s, d) =>
      // PER-EVENT SESSIONIZATION — EventTimeWindows.sessionize: every
      // event labeled with its user's session ordinal (30-min gap
      // rule) and position within the session — the labeling step
      // session_window's aggregates skip. One keyed exchange: lag,
      // both running sums, and the row number share a single per-key
      // sort (plan-pinned in the spec).
      EventTimeWindows.sessionize(Tables(s, d).events, Seq("user_id"),
        col("ts"), col("event_id"), gapMs = 30L * 60 * 1000)),
    "q208_zscore" -> ((s, d) =>
      // PER-GROUP Z-SCORE — Aggregates.zscoreByKey: each event's price
      // cents standardized against its user's exact decimal moments —
      // the plain scaling next to q199's robust winsorize. One
      // aggregate, one group-keyed join, one deterministic double
      // expression.
      Aggregates.zscoreByKey(
        Tables(s, d).events.select(col("user_id"), col("event_id"),
          (dec(col("value")) * 100).cast("long").as("cents")),
        col("cents"), Seq("user_id"))),
    "q206_weighted_median" -> ((s, d) =>
      // WEIGHTED EXACT MEDIAN — Quantiles.exactWeightedPercentileByKey:
      // per supplier, the smallest price whose cumulative QUANTITY
      // reaches half the total units moved — the volume-weighted
      // median, the fair "typical price" a unit was sold at. Same
      // ≤6 bisection passes, bucket mass = Σweight; exact integer
      // mass arithmetic end to end. Oracle replays the cumulative-
      // weight window.
      Quantiles.exactWeightedPercentileByKey(
        ScanLayout.fanOut(Tables(s, d).lineitem
          .select(col("l_suppkey"), col("l_extendedprice"), col("l_quantity")))
          .select(col("l_suppkey"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("units")),
        Seq("l_suppkey"), col("cents"), col("units"), 50)),
    "q205_changepoint" -> ((s, d) =>
      // CHANGEPOINT LOCALIZATION — Timeseries.changepoint: per user,
      // the split maximizing the two-segment SSE reduction over price
      // cents in event order (q195's CUSUM says THAT it drifted; this
      // says WHERE). The identity gain = S_i²/i + (S_n−S_i)²/(n−i) −
      // S_n²/n needs only exact prefix sums; the argmax is an
      // engine-stable struct-max over identical doubles. Oracle
      // replays windows, formula, and the (gain desc, i asc) pick.
      Timeseries.changepoint(Tables(s, d).events, Seq("user_id"),
        col("ts"), col("event_id"), (dec(col("value")) * 100).cast("long"))),
    "q203_mode" -> ((s, d) =>
      // EXACT PER-KEY MODE — Aggregates.modeByKey: each user's most
      // frequent event type, largest-value tie-break (deterministic,
      // engine-portable struct-max — no arbitrary first()). Two
      // map-side-partial hash aggregates, nothing buffers a group.
      Aggregates.modeByKey(Tables(s, d).events, col("event_type"),
        col("user_id"))),
    "q204_transitions" -> ((s, d) =>
      // TRANSITION MATRIX — Cohorts.transitions: consecutive
      // (from → to) event-type pairs per user in (ts, event_id) order,
      // globally counted — the Markov / next-event statistics a
      // curriculum or session-flow analysis starts from. One keyed lag
      // window + one pair-cardinality aggregate.
      Cohorts.transitions(Tables(s, d).events, col("user_id"),
        col("ts"), col("event_id"), col("event_type"))),
    "q202_correlations" -> ((s, d) =>
      // PAIRWISE CORRELATION PROFILER — Checks.correlations: Pearson r
      // over four lineitem measures in ONE scan; moments accumulate in
      // DECIMAL(38,0) (exact, no FP summation-order drift), r is one
      // deterministic double expression over the double-cast moments.
      // Oracle replays the identical moments and formula.
      Checks.correlations(
        ScanLayout.fanOut(Tables(s, d).lineitem.select(col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))).select(
          (dec(col("l_quantity")) * 100).cast("long").as("qty"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("price"),
          (dec(col("l_discount")) * 100).cast("long").as("disc"),
          (dec(col("l_tax")) * 100).cast("long").as("tax")),
        Seq("qty" -> col("qty"), "price" -> col("price"),
          "disc" -> col("disc"), "tax" -> col("tax")))),
    "q201_quantile_bins" -> ((s, d) =>
      // EQUI-DEPTH BINNING — Quantiles.quantileBins: every lineitem
      // assigned its bin of 16 equal-count buckets over global price
      // order (feature discretization), via the two-phase distributed
      // rank — one range shuffle, structural partition ids, never the
      // oracle's single-partition global window.
      Quantiles.quantileBins(
        Tables(s, d).lineitem.select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
          (dec(col("l_extendedprice")) * 100).cast("long").as("cents")),
        col("lid"), col("cents"), nBins = 16)),
  )
}
