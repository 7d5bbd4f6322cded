package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables
import graft.EntryHelpers._

/** [[SparkEntry.queries]] chunk 1/4 (q01_map_project … q57_pii_redact),
  * in the contract's declaration order — split out of SparkEntry purely
  * for navigability; SparkEntry concatenates the chunks unchanged.
  */
private[graft] object EntryQueriesA {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- stateless: map / filter / flatMap (SURVEY §2.3, §2.8) ----
    "q01_map_project" -> ((s, d) => {
      val t = Tables(s, d)
      Stateless.mapRecords(t.lineitem,
        "l_orderkey" -> col("l_orderkey"),
        "l_linenumber" -> col("l_linenumber"),
        "net_price" -> (dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double"))
    }),
    "q02_filter" -> ((s, d) => {
      val t = Tables(s, d)
      Stateless.filterRecords(t.lineitem,
        col("l_shipdate") < to_timestamp(lit("1998-01-01")) && col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),
    "q03_flatmap_tokens" -> ((s, d) => {
      val t = Tables(s, d)
      Stateless.flatMap(t.documents, Stateless.tokens(col("text")), "word")
        .select(col("doc_id"), col("word"))
    }),
    "q04_wordcount" -> ((s, d) => {
      val t = Tables(s, d)
      Stateless.flatMap(t.documents, Stateless.tokens(col("text")), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 5)
    }),

    // ---- keyed aggregation (SURVEY §2.4) ----
    "q05_keyed_stats" -> ((s, d) =>
      Aggregates.keyedStats(Tables(s, d).events, col("value"), col("user_id"))),
    "q06_agg_pricing" -> ((s, d) => {
      val t = Tables(s, d)
      t.lineitem.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).cast("double").as("sum_disc_price"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
    }),
    "q07_distinct" -> ((s, d) =>
      Tables(s, d).events.select(col("user_id"), col("event_type")).distinct()),
    "q08_dedup_keyfirst" -> ((s, d) =>
      // intended semantics of the reference's dedup example
      // (examples/stateful_deduplication.py:18-49): first event id per key
      Tables(s, d).events.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n"))),
    "q09_topk" -> ((s, d) =>
      Tables(s, d).events
        .orderBy(col("value").desc, col("event_id").asc)
        .limit(100)
        .select(col("event_id"), col("user_id"), col("value"))),
    "q33_distinct_per_key" -> ((s, d) =>
      Tables(s, d).events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_distinct"))),
    "q36_rollup" -> ((s, d) => {
      val t = Tables(s, d)
      val j = t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      Aggregates.rollupAgg(j, col("c_acctbal"), col("r_name"), col("n_name"))
    }),

    // ---- set ops (SURVEY §2.9 — absent in reference, exposed here) ----
    "q10_except" -> ((s, d) => {
      val e = Tables(s, d).events
      e.where(col("event_type") === "purchase").select(col("user_id")).distinct()
        .except(e.where(col("event_type") === "error" && col("value") > 195).select(col("user_id")).distinct())
    }),
    "q11_intersect" -> ((s, d) => {
      val e = Tables(s, d).events
      e.where(col("event_type") === "purchase").select(col("user_id")).distinct()
        .intersect(e.where(col("event_type") === "signup").select(col("user_id")).distinct())
    }),
    "q12_union" -> ((s, d) => {
      val e = Tables(s, d).events
      e.where(col("event_type") === "purchase").select(col("event_id"), col("user_id"))
        .union(e.where(col("event_type") === "signup").select(col("event_id"), col("user_id")))
    }),

    // ---- joins (SURVEY §2.6) ----
    "q13_join_inner" -> ((s, d) => {
      val t = Tables(s, d)
      t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    }),
    "q14_join_broadcast" -> ((s, d) => {
      val t = Tables(s, d)
      val dims = Joins.broadcastJoin(t.customer, t.nation, col("c_nationkey") === col("n_nationkey"))
      Joins.broadcastJoin(dims, t.region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), sum(dec(col("c_acctbal"))).cast("double").as("acctbal"))
    }),
    "q15_join_semi" -> ((s, d) => {
      val t = Tables(s, d)
      Joins.semiJoin(t.customer, t.orders, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"))
    }),
    "q16_join_anti" -> ((s, d) => {
      val t = Tables(s, d)
      Joins.antiJoin(t.customer, t.orders.where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"))
    }),
    "q17_join_outer" -> ((s, d) => {
      val t = Tables(s, d)
      t.nation.join(t.customer, col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy(col("n_name"))
        .agg(count(col("c_custkey")).as("n_cust"))
    }),
    "q24_interval_join" -> ((s, d) => {
      val e = Tables(s, d).events
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      Joins.intervalJoin(p, c, col("p_user"), col("c_user"), col("p_ts"), col("c_ts"), 21600000L)
        .select(col("purchase_id"), col("click_id"), (ms(col("p_ts")) - ms(col("c_ts"))).as("delta_ms"))
    }),

    // ---- SQL window functions (SURVEY §2.5 "not present" — exposed) ----
    "q18_window_rank" -> ((s, d) => {
      val e = Tables(s, d).events
      val byTime = Window.partitionBy(col("user_id")).orderBy(ms(col("ts")), col("event_id"))
      val byValue = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
      e.select(col("event_id"), col("user_id"),
        row_number().over(byTime).cast("long").as("rn"),
        rank().over(byValue).cast("long").as("val_rank"))
    }),
    "q19_window_lag" -> ((s, d) => {
      val e = Tables(s, d).events
      val w = Window.partitionBy(col("user_id")).orderBy(ms(col("ts")), col("event_id"))
      e.select(col("event_id"), col("user_id"),
        (ms(col("ts")) - lag(ms(col("ts")), 1).over(w)).as("gap_ms"))
    }),
    "q20_window_running" -> ((s, d) => {
      val e = Tables(s, d).events
      val w = Window.partitionBy(col("user_id")).orderBy(ms(col("ts")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
        sum(dec(col("value"))).over(w).cast("double").as("running_sum"))
    }),

    // ---- event-time windows (SURVEY §2.5) ----
    "q21_tumbling" -> ((s, d) => {
      val e = Tables(s, d).events
      EventTimeWindows.tumbling(e, col("ts"), "1 hour", col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_v"))
        .select(EventTimeWindows.winStartMs, col("event_type"), col("cnt"), col("sum_v"))
    }),
    "q22_sliding" -> ((s, d) => {
      val e = Tables(s, d).events
      EventTimeWindows.sliding(e, col("ts"), "1 hour", "20 minutes", col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).cast("double").as("sum_v"))
        .select(EventTimeWindows.winStartMs, col("event_type"), col("cnt"), col("sum_v"))
    }),
    "q23_session" -> ((s, d) => {
      // ts truncated to ms BEFORE gap-splitting: the oracle splits
      // sessions on epoch_ms diffs, and with µs-grained testdata a gap
      // within 1 ms of exactly 30 min could otherwise merge in one
      // engine and split in the other (ms is also the engine-parity
      // precision convention at the top of this file)
      val e = Tables(s, d).events
        .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      EventTimeWindows.session(e, col("ts"), "30 minutes", col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_millis(col("session_window.start")).as("session_start_ms"),
          col("user_id"), col("n_events"))
    }),

    // ---- scalar functions (SURVEY §2.8) ----
    "q25_scalar_json" -> ((s, d) =>
      Tables(s, d).events
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))),
    "q26_scalar_datetime" -> ((s, d) =>
      Tables(s, d).orders
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"), month(col("o_orderdate")).cast("long").as("mo"))
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("total"))),
    "q27_scalar_string" -> ((s, d) =>
      Tables(s, d).customer.select(
        col("c_custkey"),
        upper(col("c_name")).as("name_up"),
        length(col("c_name")).cast("long").as("name_len"),
        substring(col("c_name"), 1, 8).as("name_pfx"),
        col("c_name").contains("1").cast("int").as("has_one"))),

    // ---- GUI file ops (SURVEY §3.3) ----
    "q28_fileop_filter" -> ((s, d) =>
      FileOps.filterOp(Tables(s, d).events, "event_type", "equals", "purchase")
        .select(col("event_id"), col("user_id"), col("value"))),
    "q29_fileop_transform" -> ((s, d) =>
      FileOps.transformOp(Tables(s, d).nation, lit("2024-01-01T00:00:00"))),
    "q30_fileop_aggregate" -> ((s, d) =>
      FileOps.aggregateOp(Tables(s, d).events, "event_type", "avg", "value")),
    "q31_fileop_anomaly" -> ((s, d) =>
      FileOps.anomalyOp(Tables(s, d).events, "value", 180.0)
        .select(col("event_id"), col("is_anomaly"))),

    // ---- text analysis (north-star) ----
    "q32_text_quality" -> ((s, d) =>
      TextAnalysis.qualityProfile(Tables(s, d).documents, col("text"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"), col("mean_tok_len"),
          col("stop_ratio"), col("quality_keep"))),
    "q34_text_fingerprint" -> ((s, d) =>
      Dedup.exact(Tables(s, d).documents, col("doc_id"), col("text"))),
    "q35_token_count" -> ((s, d) =>
      Tables(s, d).documents.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))),

    // ---- dedup + similarity (north-star; oracle below where expressible) ----
    "q37_minhash_pairs" -> ((s, d) =>
      // fanOut: the shingle+MinHash kernels otherwise serialize on the
      // single-file local scan (guide §2.5; no-op at scale)
      Dedup.minhashLsh(
        ScanLayout.fanOut(Tables(s, d).documents.select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"),
        shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2, threshold = 0.4)
        .select(col("id_a"), col("id_b"), col("jaccard"))),
    "q38_simhash" -> ((s, d) =>
      Tables(s, d).documents.select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))),
    "q39_ann_topk" -> ((s, d) => {
      val em = Tables(s, d).embeddings
      Similarity.bruteForceTopK(
        em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5)
    }),
    "q40_reduce" -> ((s, d) => {
      // KeyedStream.reduce (job_graph.py:450-457) as a typed distributed
      // fold: per user, the max-value event (ties -> lowest event_id)
      import s.implicits._
      val ev = Tables(s, d).events
        .select(col("user_id"), col("event_id"), col("value"))
        .as[(Long, Long, Double)]
      Reduce.reduceByKey(ev.groupByKey(_._1)) { (a, b) =>
        if (a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)) a else b
      }.map { case (_, (u, e, v)) => (u, e, v) }
        .toDF("user_id", "event_id", "value")
    }),
    "q41_cube" -> ((s, d) =>
      Aggregates.cubeAgg(Tables(s, d).orders, col("o_totalprice"),
        col("o_orderstatus"), col("o_orderpriority"))),
    "q42_ivf_topk" -> ((s, d) => {
      val em = Tables(s, d).embeddings
      Similarity.ivfTopK(
        em.where(col("vec_id") < 10), em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, nCells = 16, nProbe = 4)
    }),
    "q43_multimodal" -> ((s, d) => {
      // synthetic media corpus keyed by the sf dir's embedding ids so the
      // query scales with sf like every other table — derived lazily, no
      // job runs at construction time. Per-row decoded features: the
      // content bytes are engine-portable integer arithmetic and
      // mean_intensity is one double division of exact integers
      // (sum_bytes / n_bytes), so DuckDB replays the decode bit-exactly —
      // a decimal SUM of doubles here would instead hit cross-engine
      // rounding-mode edges (HALF_UP vs half-even) on dyadic means
      import s.implicits._
      val ids = Tables(s, d).embeddings.select(col("vec_id")).as[Long]
      Multimodal.decodeAndEmbed(Multimodal.syntheticMediaFor(ids), dim = 16)
        .select(col("media_id"), col("media_type"), col("width"), col("height"),
          col("mean_intensity"))
    }),
    "q44_approx_distinct" -> ((s, d) =>
      // HLL sketch aggregate, oracle-checkable by pinning the exactness
      // regime (the q64 approx_top_k trick): the counted domain is the
      // SAME ≤5 event_type strings in every group, rsd 0.01 gives 2^14
      // registers, and those 5 hashes land in distinct registers — so
      // linear counting returns m·ln(m/(m-k)) = k + k²/2m, which rounds
      // to exactly k for every subset. The sketch regime (big domains,
      // where HLL is genuinely approximate) stays quality-gated in
      // ExtensionsSpec; at 100 TB the sketch is the same fixed 16 KiB
      // per group regardless of cardinality.
      // The regime precondition is ASSERTED in the plan itself: each
      // group also carries the exact distinct count, and any divergence
      // raises a named error instead of surfacing as an opaque oracle
      // hash mismatch if a data-generator change ever breaks the regime.
      // Shape: dedup to distinct (user, type) pairs FIRST (partial-agged;
      // HLL register updates are idempotent, so the sketch over distinct
      // values is bit-identical to the sketch over the multiset) — then
      // exact count and sketch ride one tiny pair-sized agg, instead of
      // countDistinct's Expand doubling the corpus scan.
      Tables(s, d).events.where(col("value") > 150)
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id"))
        .agg(approx_count_distinct(col("event_type"), 0.01).as("__a"),
          count(lit(1)).as("__e"))
        .select(col("user_id"),
          when(col("__a") =!= col("__e"), raise_error(concat(
            lit("q44 exactness regime broke: approx_count_distinct="), col("__a").cast("string"),
            lit(" != exact="), col("__e").cast("string"),
            lit(" — the event_type domain grew or its hashes now collide"))))
          .otherwise(col("__a")).as("n_approx"))),
    "q54_approx_percentile" -> ((s, d) =>
      // Greenwald-Khanna sketch aggregate, oracle-checkable by pinning
      // the exactness regime: accuracy 1e6 ≥ any sf0.01 group count, so
      // every sample is retained and query(p) returns the element at
      // rank ceil(p·n) (double arithmetic — the oracle replays the same
      // IEEE product). The sketch regime stays quality-gated in
      // ExtensionsSpec; at 100 TB memory is O(accuracy·log n) per group,
      // independent of group size.
      // Regime precondition asserted in the plan: every group must fit
      // inside the accuracy (all samples retained → rank selection is
      // exact); a generator/SF change that outgrows it raises a named
      // error instead of an opaque oracle hash mismatch.
      Tables(s, d).events.groupBy(col("event_type")).agg(
        approx_percentile(col("value"), lit(0.5), lit(1000000)).as("__p50"),
        approx_percentile(col("value"), lit(0.95), lit(1000000)).as("p95"),
        count(lit(1)).as("__n"))
        .select(col("event_type"),
          when(col("__n") > 1000000L, raise_error(concat(
            lit("q54 exactness regime broke: a group has "), col("__n").cast("string"),
            lit(" rows > accuracy 1e6 — GK sketch would drop samples; raise accuracy"))))
          .otherwise(col("__p50")).as("p50"),
          col("p95"))),
    "q53_train_split" -> ((s, d) =>
      Sampling.split(Tables(s, d).documents, col("doc_id"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))),
    "q52_ngram_jaccard" -> ((s, d) =>
      // LSH-accelerated, exact-verified: at threshold 0.8 with 16x2
      // banding the per-pair miss probability is (1-j^2)^16 <= 1e-7, so
      // the result equals the brute-force all-pairs oracle
      Dedup.ngramJaccardPairs(
        ScanLayout.fanOut(Tables(s, d).documents.select(col("doc_id"), col("text"))),
        col("doc_id"), col("text"), n = 3, threshold = 0.8)),
    "q51_scalar_math" -> ((s, d) =>
      // IEEE-exact math functions only (sqrt/abs/floor/ceil/%): identical
      // bit results across engines; transcendental fns (ln/exp) are NOT
      // cross-engine-exact and stay out of oracle queries
      Tables(s, d).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        floor(col("l_extendedprice")).as("floor_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        (col("l_orderkey") % 7).as("mod7"))),
    "q49_anomaly_rules" -> ((s, d) =>
      FileOps.anomalyRules(Tables(s, d).events, Seq(
        "value_high" -> (col("value") > 190),
        "value_sentinel" -> (col("value") === -999.9),
        "error_burst" -> (col("event_type") === "error" && col("value") > 150)))
        .select(col("event_id"), col("is_anomaly"),
          array_join(col("fired_rules"), ",").as("rules"))),
    "q50_pivot" -> ((s, d) =>
      Tables(s, d).events.groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(dec(col("value"))).cast("double"))),
    "q48_text_langid" -> ((s, d) =>
      Tables(s, d).documents.select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))),
    "q46_regex_tokens" -> ((s, d) =>
      Tables(s, d).documents.select(
        col("doc_id"),
        size(TextAnalysis.regexTokens(col("text"), "[a-z0-9]+")).cast("long").as("n_regex_tokens"))),
    "q47_rolling_fingerprint" -> ((s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text"), 5).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))),
    "q45_embedding_neardup" -> ((s, d) => {
      // the sf embeddings are uniform-random with no real near-dups (max
      // pairwise cosine ≈ 0.6), so the query plants them: every 20th
      // vector gets a deterministically perturbed copy (±1% per element,
      // cosine ≈ 0.99995 to its source — engine-portable arithmetic, so
      // DuckDB builds the identical corpus). At threshold 0.95 the true
      // pair set is exactly the planted pairs; banded LSH (b=8, r=16)
      // misses a pair at that cosine with probability < 1e-10, so the
      // LSH+verify output equals the brute-force oracle.
      val em = Tables(s, d).embeddings
      val base = em.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val planted = em.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000000L).as("id"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * (lit(1.0) + lit(0.01) * (i % 3 - 1).cast("double"))).as("v"))
      Similarity.cosineNearDupPairs(base.union(planted), col("id"), col("v"),
        dim = 64, bands = 8, rowsPerBand = 16, threshold = 0.95)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- round 4: corpus-pipeline operators (north-star extension) ----
    "q55_dup_clusters" -> ((s, d) => {
      // duplicate GROUPS from near-dup PAIRS, driven through the standing
      // signature index (the composition DedupIndex exists for): ONE
      // corpus-text pass builds shingles/ + bands/ at a temp path, then
      // candidates, exact-Jaccard verify, and min-label clustering all run
      // from the stored signatures — the previous form re-ran the full
      // q52 LSH (corpus scan + shingle + minhash) inside the query.
      // Banding params match q52 (n=3, 32 hashes, 16x2), so the pair set —
      // and therefore the clusters — are identical (DedupIndexSpec asserts
      // index pairs == direct operator pairs). The index is memoized per
      // (process, sf dir): it is a STANDING index by design, and an
      // unmemoized build would leave one full shingles+bands copy in /tmp
      // per invocation (bench runs 3x per round) until the disk fills.
      val idx = dedupIndex(s, d)
      val pairs = DedupIndex.pairs(s, idx, threshold = 0.8)
      Clusters.connectedComponents(pairs, col("id_a"), col("id_b"))
    }),
    "q56_repetition" -> ((s, d) =>
      TextAnalysis.repetitionProfile(Tables(s, d).documents, col("doc_id"), col("text"))),
    "q57_pii_redact" -> ((s, d) => {
      // plant deterministic PII (both engines build the identical string),
      // scrub it, and hash-check the redacted text + email count
      val planted = Tables(s, d).documents.select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0.0."), (col("doc_id") % 250).cast("string"),
          lit(" phone 555-867-5309")).as("text"))
      planted.select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("redacted"),
        TextAnalysis.piiCounts(col("text")).getField("emails").cast("long").as("n_emails"))
    }),
  )
}
