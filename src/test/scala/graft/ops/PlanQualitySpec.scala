package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Plan-quality regression guards: lock in the physical-plan properties
  * SCALE.md documents (pushdown, broadcast, partial aggregation). These
  * catch silent plan regressions — an operator edit that drops a pushed
  * filter or turns a broadcast join into a shuffle join changes nothing at
  * sf0.01 correctness but everything at 100 TB.
  */
class PlanQualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    graft.SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q02: filters pushed into the parquet scan, schema pruned") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), LessThan(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(!p.contains("l_extendedprice"), "schema not pruned to used columns")
  }

  test("q14: dimension joins broadcast, fact side not shuffled before agg") {
    val p = plan("q14_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("q06: aggregation is partial (map-side) then final") {
    val p = plan("q06_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q09: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q09_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not using partial top-k:\n$p")
  }

  test("custom kernels stay inside whole-stage codegen, no interpreted fallback") {
    // with fallback disabled, a kernel whose generated code fails to
    // compile aborts the query instead of silently running interpreted —
    // this proves every doGenCode actually compiles
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import org.apache.spark.sql.functions._
      val docs = graft.sources.Tables(spark, sf).documents
      val toks = Stateless.tokens(col("text"))
      val kernelScan = docs.select(
        graft.functions.Kernels.minhash_signature(
          graft.functions.Kernels.word_shingles(toks, 3), 16).as("mh"),
        graft.functions.Kernels.simhash64(toks).as("sh"),
        graft.functions.Kernels.rolling_fingerprint(toks, 5).as("rf"))
      assert(kernelScan.count() > 0)
      val em = graft.sources.Tables(spark, sf).embeddings
      val vecScan = em.select(
        graft.functions.Kernels.hyperplane_signature(col("embedding"), 16, 3).as("hp"),
        graft.functions.Kernels.cosine_similarity(col("embedding"), col("embedding")).as("cs"))
      assert(vecScan.where(col("cs") > 0.99).count() > 0)
      // and the kernel projection is inside a WholeStageCodegen span (the
      // `*(n)` prefix in the simple plan string marks span membership)
      val p = kernelScan.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined,
        s"kernel scan projection not inside WholeStageCodegen:\n$p")
      val pv = vecScan.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) Project""".r.findFirstIn(pv).isDefined,
        s"vector kernel projection not inside WholeStageCodegen:\n$pv")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("q44: regime guard rides a pair-sized agg — no count-distinct Expand") {
    val p = plan("q44_approx_distinct")
    assert(!p.contains("Expand"),
      s"exact-distinct guard must dedup first, not Expand the corpus scan:\n$p")
    // dedup agg + per-user agg, both partial (map-side combined)
    assert("partial_".r.findAllIn(p).nonEmpty, s"no partial aggregation:\n$p")
  }

  test("q42: IVF cell assignment is a narrow map — corpus never hash-partitioned") {
    // the old shape cross-joined corpus × nCells then windowed by cand_id,
    // shuffling 16× the corpus just to pick a centroid; the argmax against
    // the broadcast centroid array must leave no hashpartitioning exchange
    // on cand_id/cv upstream of the final ranking window
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.SparkEntry.queries("q42_ivf_topk")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      val corpusExchanges = exchanges.filter(l => l.contains("cand_id") || l.contains("cv#"))
      assert(corpusExchanges.forall(_.contains("query_id")),
        s"corpus shuffled before probe join (only the scored-triple ranking may exchange):\n${exchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q39/q42: ANN ranking is a partial top-k aggregate, not a window over all candidates") {
    // the ranking exchange must carry at most k rows per query per map
    // partition (partial_collect_top_k), never every scored candidate
    // through a row_number window sort
    for (q <- Seq("q39_ann_topk", "q42_ivf_topk", "q76_pq_topk", "q77_ivfpq_topk")) {
      val p = plan(q)
      assert(p.contains("partial_collect_top_k"), s"$q ranking not partial top-k:\n$p")
      // q42 legitimately numbers its nCells centroid rows with a window;
      // what must be gone is any window partitioned by query_id (the old
      // all-candidates row_number rank)
      val rankWindows = p.linesIterator
        .filter(l => l.contains("Window") && l.contains("query_id")).toSeq
      assert(rankWindows.isEmpty, s"$q still ranks via window:\n${rankWindows.mkString("\n")}")
    }
  }

  test("q74: duplicated-gram detection is a plain partial aggregate — no count-distinct expand") {
    // at the default minDocs = 2 the dup test is min(id) != max(id):
    // partial-aggregable on the gram key with no Expand doubling the
    // aggregate's input (the count-distinct plan shape)
    val p = plan("q74_dup_spans")
    assert(!p.contains("Expand"), s"dup detection expanded for count-distinct:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
  }

  test("q81: self-scoring LM pays exactly two narrow corpus passes, no more") {
    // the count tables and the scoring probe are separately-analyzed
    // lambda-bearing subtrees that AQE cannot canonicalize together, so
    // the self-scoring form reads the corpus twice BY DESIGN (documented;
    // the standing pipeline persists lmCounts and pays one pass via
    // lmSurprisalAgainst). This pins the cost at two — a regression to a
    // third branch (e.g. a separate head-count aggregate) must fail.
    val df = graft.SparkEntry.queries("q81_lm_surprisal")(spark, sf)
    df.collect()
    // the adaptive plan string appends the pre-AQE "Initial Plan" — count
    // scans in the executed Final Plan section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("documents"))
    assert(scans <= 2, s"expected <= 2 documents scans, found $scans:\n$p")
  }

  test("q37: banding exchange is reused across the self-join at runtime") {
    // the signature scan feeds both sides of the candidate self-join (and
    // the candidate-id subtree) through identical exchanges; AQE must
    // dedupe them — otherwise the corpus scan+shingle+minhash pass runs
    // once per branch. Reuse only shows in the final adaptive plan, so
    // execute first.
    val df = graft.SparkEntry.queries("q37_minhash_pairs")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      s"banding exchange not reused in final adaptive plan:\n$p")
  }

  test("q90: semanticDedup's assignment pass materializes once (anti self-join reuse)") {
    // semanticDedup is one left_anti self-join over the assigned frame;
    // both sides require the same hashpartitioning(cell), so the final
    // adaptive plan must reuse one exchange — otherwise the corpus-wide
    // argmin assignment runs once per side. (The explicit isnotnull
    // filters in the operator exist precisely to keep the two sides
    // canonically identical; see KMeans.semanticDedup.)
    val df = graft.SparkEntry.queries("q90_kmeans_semdedup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"assignment exchange not reused in final adaptive plan:\n$p")
    val cellExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(cell") && !l.contains("ReusedExchange"))
    assert(cellExchanges == 1,
      s"expected exactly one materialized cell exchange, found $cellExchanges:\n$p")
  }

  test("q100: DSIR exchanges carry bucket counts or slim per-doc rows — never text") {
    // count tables are bounded (<= buckets rows, broadcast); the scoring
    // scan's only exchange is the per-doc stat row of its groupBy(id).
    // Every hash exchange is therefore keyed on the bucket b or the doc
    // id — a text- or feature-keyed exchange would mean corpus payload
    // moving
    // (the two count passes run eagerly when the query is built — their
    // bounded tables pin via localCheckpoint — so the scoring plan below
    // is what executes per invocation)
    val df = graft.SparkEntry.queries("q100_dsir_weights")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty && hashEx.forall(l =>
        l.contains("hashpartitioning(b#") || l.contains("hashpartitioning(id#")),
      s"unexpected exchange key in the scoring pass:\n${hashEx.mkString("\n")}")
    // the count tables arrive as broadcast joins, never a corpus-side
    // shuffle, and the scoring scan reads only the two needed columns
    assert(p.contains("BroadcastHashJoin"), s"count tables not broadcast:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scoring scan reads more than (doc_id, text):\n$p")
  }

  test("q59: packing range-shuffles the data once and plans no window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.SparkEntry.queries("q59_seq_packing")(spark, sf)
    val p = df.queryExecution.executedPlan
    // PrefixSum's two passes and their driver-side offsets replace every
    // window — a window over the data (ord_key/n_tok cumsum) would mean
    // a global or re-shuffled sort of the dataset
    val root = p match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
    val windows = root.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"window in q59's plan:\n${windows.mkString("\n")}")
    // the data's one range shuffle lives in the shared RDD lineage
    // (consumed by both passes); no SQL-level exchange carries the data
    val lines = p.toString.linesIterator.toSeq
    val hashEx = lines.filter(_.contains("Exchange hashpartitioning"))
    assert(hashEx.forall(!_.contains("ord_key")),
      s"data re-shuffled beyond the range partition:\n${hashEx.mkString("\n")}")
    assert(!lines.exists(_.contains("Exchange rangepartitioning")),
      s"second SQL-level range shuffle of the data:\n$p")
  }

  test("q59: the token-count projection executes once per row — range sampling reads the pinned frame") {
    // repartitionByRange samples its child to pick range boundaries; if the
    // (ord, n_tok) projection is not pinned first, that sampling job runs
    // the token-count kernel over the corpus text a second time before the
    // shuffle map runs it again — a full extra corpus pass at 100 TB. An
    // accumulator inside the count column observes exactly how many times
    // the projection is computed.
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sf).documents
    val nDocs = docs.count()
    val calls = spark.sparkContext.longAccumulator("tok_calls")
    val countingTok = udf { (s: String) =>
      calls.add(1)
      if (s == null) 0L else s.split("\\s+").count(_.nonEmpty).toLong
    }
    val packed = Packing.packSequences(docs, col("doc_id"), countingTok(col("text")), 512)
    assert(packed.count() == nDocs)
    assert(calls.value == nDocs,
      s"token counting executed ${calls.value} times for $nDocs docs — " +
        "the projection feeding repartitionByRange ran more than once (unpinned)")
  }

  test("q217: no single-partition window anywhere in the plan") {
    // a window with no partition spec runs in ONE partition; PrefixSum
    // sums the ticks in two passes and needs none
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def globalWindows(p: SparkPlan): Seq[String] = {
      val root = p match { case a: AdaptiveSparkPlanExec => a.inputPlan; case o => o }
      root.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .map(_.windowExpression.mkString(", "))
    }
    val p = graft.SparkEntry.queries("q217_peak_sessions")(spark, sf).queryExecution.executedPlan
    assert(globalWindows(p).isEmpty, s"single-partition window over the ticks:\n$p")
    // the check fires on the sweep's naive form: a running sum over every tick
    val ticks = spark.range(100).select((col("id") % 17).as("tick"), lit(1L).as("d"))
      .groupBy("tick").agg(sum("d").as("d"))
    val naive = ticks.withColumn("run", sum(col("d")).over(Window.orderBy(col("tick"))))
    assert(globalWindows(naive.queryExecution.executedPlan).nonEmpty)
  }

  test("q60/q63: per-group rankings are partial top-k aggregates, not windows") {
    for (q <- Seq("q60_top_tokens", "q63_salient_terms")) {
      val p = plan(q)
      assert(p.contains("partial_collect_top_k"), s"$q ranking not partial top-k:\n$p")
      assert(!p.contains("windowspecdefinition"),
        s"$q ranking fell back to a window sort:\n$p")
    }
  }

  test("q63: stopword-skew split — hot-df side broadcasts (hot tf rows never shuffle by term)") {
    // the hot/cold split's scale property: hot terms reach their df rows
    // through broadcast joins (the hot inner join + the anti filter that
    // keeps them out of the cold term-keyed exchange)
    val p = plan("q63_salient_terms")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"hot/anti broadcasts missing — stopword tf rows would shuffle by term:\n$p")
  }

  test("q71: cross-corpus candidate join exchanges triples only, both sides") {
    // the A×B bucket join must carry (band, bucket, id) — neither corpus's
    // shingle arrays enter the candidate exchange (same contract as q37's
    // self-join, asserted per side here)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.SparkEntry.queries("q71_crosscorpus_neardup")(spark, sf)
        .queryExecution.executedPlan.toString
      val bucketExchanges = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") && l.contains("band") && l.contains("bucket"))
        .toSeq
      assert(bucketExchanges.size >= 2, s"expected two banded exchanges (one per corpus):\n$p")
      assert(bucketExchanges.forall(!_.contains("sh#")),
        s"shingles travel through the cross-candidate shuffle:\n${bucketExchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q74/q80: gram exchanges carry (gram, id, pos) triples — document text never shuffles") {
    // substring dedup's scale contract (self-dedup AND the standing-index
    // screen): the corpus text stays in its scan; only 32-byte gram
    // fingerprints + (id, pos) enter any exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q74_dup_spans", "q80_span_screen")) {
        val p = graft.SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan.toString
        val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
        assert(exchanges.nonEmpty, s"$q: no exchanges found:\n$p")
        assert(exchanges.forall(l => !l.contains("toks#") && !l.contains("text#")),
          s"$q: document text travels through a shuffle:\n${exchanges.mkString("\n")}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q88: k-means assignment is a narrow broadcast argmin — corpus never shuffled") {
    // the assign pass (and the per-iteration assignment inside fit) must
    // be a map against the ONE broadcast centroid row; any Exchange in
    // the assignment plan means the corpus is being hash-partitioned to
    // pick a cell — wrong at any scale
    import org.apache.spark.sql.functions._
    val em = graft.sources.Tables(spark, sf).embeddings
    val cents = KMeans.fit(em, col("vec_id"), col("embedding"), k = 4, iters = 1)
    val p = KMeans.assign(em, col("vec_id"), col("embedding"), cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"k-means assignment shuffles the corpus:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"centroids not broadcast:\n$p")
  }

  test("k-means update: the (cell, d) sum aggregate is partial — exchange bounded by k·dim") {
    // replicate the fit's update stage shape and check the aggregate runs
    // map-side first: HashAggregate(partial) below the exchange means the
    // shuffle carries at most k·dim rows per map partition, never the
    // exploded corpus
    import org.apache.spark.sql.functions._
    val em = graft.sources.Tables(spark, sf).embeddings
    val cents = KMeans.fit(em, col("vec_id"), col("embedding"), k = 4, iters = 0)
    val assigned = KMeans.assign(em, col("vec_id"), col("embedding"), cents)
      .join(em.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("xq")), Seq("id"))
    val sums = assigned
      .select(col("cell"), posexplode(col("xq")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d")).agg(sum(col("x")).as("s"))
    val p = sums.queryExecution.executedPlan.toString
    val aggs = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.size >= 2, s"update aggregate not partial+final:\n$p")
    val exchangeIdx = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning"))
    val partialBelowExchange = p.linesIterator.zipWithIndex.exists { case (l, i) =>
      l.contains("HashAggregate") && i > exchangeIdx
    }
    assert(exchangeIdx >= 0 && partialBelowExchange,
      s"no partial aggregate below the (cell, d) exchange:\n$p")
  }

  test("q91: quality-classifier inference is one narrow codegen'd pass — no keyed exchange") {
    // the query-site ScanLayout.fanOut may add ONE round-robin exchange
    // in the local single-file regime (guarded no-op at scale), which
    // wraps the plan in AdaptiveSparkPlan — execute it so the FINAL
    // plan (with codegen markers) is inspectable, then pin what would
    // break the 100 TB story: any KEYED shuffle or join in the path
    val df = graft.SparkEntry.queries("q91_quality_classify")(spark, sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning") &&
      !p.contains("Join"), s"classifier gate shuffles by key or joins:\n$p")
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(p.contains("*(1)"), s"classifier fell out of codegen:\n$p")
  }

  test("q251: five-model attribution stays one equi-join + shared window exchange") {
    // the claim SCALE.md makes for the attribution family: all five
    // credit models share ONE conversion-keyed window exchange after
    // one user-keyed equi-join (broadcast at gate size — never a
    // SortMergeJoin here), then a channel-sized rollup. ≤2 hash
    // exchanges total (window + rollup); a regression that gives each
    // window pass its own exchange, or sort-merges the touch join,
    // trips this. Execute so AQE's final plan is inspected.
    val df = graft.SparkEntry.queries("q251_attribution")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"), s"attribution touch join sort-merges:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 2, s"attribution pays $hashEx hash exchanges (> 2):\n$p")
    // exactly one Window operator subtree feeds all five models
    assert("(?m)^[^\\n]*Window".r.findAllIn(p).size <= 2, // Window + WindowGroupLimit-free
      s"window passes split into separate operators:\n$p")
  }

  test("q37: LSH candidate join does not shuffle shingle arrays") {
    // at sf0.001 AQE broadcasts everything; force the shuffle-join shape
    // the operator takes at corpus scale to inspect what the exchange carries
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = graft.SparkEntry.queries("q37_minhash_pairs")(spark, sf)
        .queryExecution.executedPlan.toString
      // the band-bucket exchange must carry only band/bucket/id, never sh
      val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      val bucketExchanges = exchanges.filter(l => l.contains("band") && l.contains("bucket"))
      assert(bucketExchanges.nonEmpty, s"no band-bucket exchange found:\n$p")
      assert(bucketExchanges.forall(!_.contains("sh#")),
        s"shingle arrays travel through the candidate shuffle:\n${bucketExchanges.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("admission screen/audit: the standing-store scan is pruned to the fingerprint column") {
    // q169/q171/q174's 100 TB contract: the standing dedup side reads
    // and exchanges fingerprint rows ONLY — a store scan that drags
    // extra columns (or the batch text) into the anti join would grow
    // with corpus size instead of fingerprint-table size. The batch
    // side legitimately shuffles once (the in-batch fp window); the
    // decon bench side must broadcast.
    import org.apache.spark.sql.functions._
    import graft.core.{Catalog, TempDirs}
    val docs = graft.sources.Tables(spark, sf).documents
    val base = TempDirs.create("planq_admission")
    Catalog.init(base, Map("fps" -> docs.limit(50)
      .select(TextAnalysis.fingerprint(col("text")).as("fp"),
        lit("meta").as("extra"))))
    val bench = docs.where(col("doc_id") % 50 === 0)
    for (df <- Seq(
        Admission.screen(spark, base, "fps", docs, col("doc_id"), col("text"),
          bench, col("doc_id"), col("text")),
        Admission.audit(spark, base, "fps", docs, col("doc_id"), col("text"),
          bench, col("doc_id"), col("text")))) {
      val p = df.queryExecution.executedPlan.toString
      val storeScans = p.linesIterator.filter(l =>
        l.contains("FileScan parquet") && l.contains(base)).toSeq
      assert(storeScans.nonEmpty, s"no standing-store scan found:\n$p")
      assert(storeScans.forall(l => l.contains("ReadSchema: struct<fp:string>")),
        s"standing-store scan not pruned to fp:\n${storeScans.mkString("\n")}")
      assert(p.contains("BroadcastExchange"),
        s"bench containment side does not broadcast:\n$p")
    }
  }

  test("admission screen, admission folds and tokens plan no Catalyst Lower/Upper") {
    // Catalyst's Lower/Upper evaluate through CollationAwareUTF8String,
    // whose class init allocates 3.2 GB on first use; the kernels make
    // Spark's case-mapping call themselves (KernelOps.lower). Class-init
    // state is not observable in the shared test JVM, so the guard is on
    // the optimized plans.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
    import graft.core.{Catalog, TempDirs}
    def caseMaps(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectWithSubqueries { case n => n.expressions }
        .flatten.flatMap(_.collect { case e @ (_: Lower | _: Upper) => e })
    // the guard can fire
    val docs = graft.sources.Tables(spark, sf).documents
    assert(caseMaps(docs.select(lower(col("text")))).nonEmpty)
    val base = TempDirs.create("planq_casemap")
    graft.EntryHelpers.admissionInit(base, docs)
    val screened = Admission.screen(spark, base, "fps", docs, col("doc_id"), col("text"),
      docs.where(col("doc_id") % 50 === 0), col("doc_id"), col("text"))
    val stores = Catalog.readAll(spark, base)
    val plans = Seq("screen" -> screened,
        "tokens" -> docs.select(Stateless.tokens(col("text")))) ++
      graft.EntryHelpers.admissionFolds.map { case (store, fold) =>
        s"$store fold" -> fold(stores(store), screened) }
    for ((name, df) <- plans) {
      val hits = caseMaps(df)
      assert(hits.isEmpty, s"$name plan has Catalyst case mapping $hits:\n" +
        df.queryExecution.optimizedPlan)
    }
  }

  test("q169: catalog answers read standing stores only — the corpus is never re-scanned") {
    // the point of the catalog: answering (per-source stats + top
    // token) costs store-table reads, not a corpus pass. Any
    // documents.parquet scan in the answer plan means a store fold
    // leaked a corpus dependency into the read side.
    val p = plan("q169_admission_pipeline")
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty, s"no scans at all?\n$p")
    assert(scans.forall(!_.contains("documents")),
      s"the answer plan re-reads the corpus:\n${scans.mkString("\n")}")
  }

  test("CDC view delta is SHUFFLE-FREE: three delta-broadcast joins on band-pruned scans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = graft.core.TempDirs.create("graft_plan_cdcdelta")
    JoinView.initCdc(spark,
      base,
      (0L until 64L).map(k => (k, k * 10)).toDF("k", "lv"),
      (0L until 64L).map(k => (k, k * 100)).toDF("k", "rv"),
      Seq("k"), bands = 8)
    // signed batch deltas (the shape ingestCdc computes): one left
    // insert, one right retraction, keys in two different bands
    val dl = Seq((3L, 999L, 1L)).toDF("k", "lv", JoinView.MultCol)
    val dr = Seq((5L, 500L, -1L)).toDF("k", "rv", JoinView.MultCol)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(pmod(hash(col("k")), lit(8)).as("b"))
        .distinct().as[Int].collect().toSeq.sorted
    val dv = JoinView.cdcDelta(spark, base, Seq("k"), 8,
      dl, bandsOf(dl), dr, bandsOf(dr))
    // correctness first: ΔL⋈R ⊎ ΔL⋈ΔR ⊎ L⋈ΔR (keys differ, so no
    // in-batch pairing; the retraction carries its negative count)
    assert(dv.select(col("k"), col("lv"), col("rv"), col(JoinView.MultCol))
      .as[(Long, Long, Long, Long)].collect().toSet ==
      Set((3L, 999L, 300L, 1L), (5L, 50L, 500L, -1L)))
    // the counted join is bilinear, so NOTHING shuffles: the deltas
    // broadcast onto band-pruned standing scans and union — the only
    // exchange in the fold pipeline is the band-sized view merge
    val p = dv.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected 3 delta-broadcast joins:\n$p")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("SortMergeJoin"),
      s"the delta plan must not shuffle (standing sides are scan-only):\n$p")
    // and the standing scans are band stores, never the full side
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).size
    assert(scans <= 3, s"expected at most one band scan per standing side:\n$p")
  }

  test("q248/q250: projection and pseudonymization are map-only — zero exchanges") {
    for (q <- Seq("q248_random_projection", "q250_pseudonymize")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n$p")
    }
  }

  test("q246: ACF pays two keyed exchanges — the daily pre-agg and the lag window; the final agg reuses the window's partitioning") {
    val p = plan("q246_autocorrelation")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 2, s"expected <= 2 hash exchanges, got $n:\n$p")
    assert(!p.contains("Exchange rangepartitioning") && !p.contains("SortMergeJoin"),
      s"no global sort / join belongs in the ACF plan:\n$p")
  }

  test("q247: chi-square exchanges carry token stats, never document text") {
    val p = plan("q247_chi2_tokens")
    assert(!p.contains("SortMergeJoin"),
      s"label/total joins must broadcast, not sort-merge:\n$p")
    val badEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .filter(_.contains("text#")).toSeq
    assert(badEx.isEmpty, s"an exchange carries document text:\n${badEx.mkString("\n")}")
  }
}
