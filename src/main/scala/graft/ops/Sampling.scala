package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines
  * (north-star extension).
  *
  * Splits are a pure function of the row key — md5 of the key string,
  * compared lexicographically on the hex prefix — so they are
  * reproducible across runs, partitionings, AND engines (md5 hex is
  * portable; no RNG state, no `rand()`). The 100 TB property that matters:
  * re-running the pipeline, or computing the split in a different system,
  * assigns every row to the same fold.
  */
object Sampling {

  /** Hex-prefix hash bucket in [0, 256) for a key column. */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10).cast("int")

  /** Keep ~fraction of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.where(hashBucket(key) < math.round(fraction * 256).toInt)

  /** Train/val/test fold label by key hash; fractions must sum to <= 1,
    * remainder goes to "test".
    */
  def foldLabel(key: Column, trainFrac: Double, valFrac: Double): Column = {
    val b = hashBucket(key)
    val trainHi = math.round(trainFrac * 256).toInt
    val valHi = trainHi + math.round(valFrac * 256).toInt
    when(b < trainHi, "train").when(b < valHi, "val").otherwise("test")
  }

  def split(df: DataFrame, key: Column, trainFrac: Double = 0.8,
            valFrac: Double = 0.1): DataFrame =
    df.withColumn("fold", foldLabel(key, trainFrac, valFrac))

  /** Domain-weighted mixture sampling: keep a per-domain fraction of
    * rows, deterministically by key — the standard way training mixtures
    * up/down-weight sources (wiki at 1.0, raw web at 0.1, …). A pure
    * per-row predicate on (key hash, domain), so it runs narrow inside
    * the scan's codegen span: no shuffle, no RNG state, and re-running
    * on any partitioning — or in another engine — keeps exactly the
    * same rows. Weights are quantized to /256 buckets (same contract as
    * [[foldLabel]]); a weight ≥ 1.0 keeps everything.
    */
  def mixtureSample(df: DataFrame, key: Column, domain: Column,
                    weights: Map[String, Double],
                    defaultWeight: Double = 1.0): DataFrame = {
    def buckets(w: Double): Int = math.min(256, math.round(w * 256).toInt)
    val threshold = weights.toSeq.sortBy(_._1).foldLeft(lit(buckets(defaultWeight))) {
      case (acc, (dom, w)) => when(domain === dom, lit(buckets(w))).otherwise(acc)
    }
    df.where(hashBucket(key) < threshold)
  }

  /** Exact-count stratified take: deterministically keep exactly n rows
    * per domain (fractions can't hit a target budget exactly; this can).
    * Rows rank by md5-of-key order — uniform, reproducible, engine-
    * portable — and the per-domain selection is a bounded-heap top-k
    * aggregate ([[graft.functions.Kernels.collect_bottom_k]]), so at
    * most n rows per domain per map partition shuffle: no per-domain
    * window sort, same scale shape as the ANN rankings. Returns
    * (dom, key, rk); semi-join on key to recover full rows.
    */
  def stratifiedTake(df: DataFrame, key: Column, domain: Column, n: Int): DataFrame =
    df.select(domain.as("dom"),
        struct(md5(key.cast("string")).as("h"), key.as("k")).as("s"))
      .groupBy(col("dom"))
      .agg(graft.functions.Kernels.collect_bottom_k(col("s"), n).as("take"))
      .select(col("dom"), posexplode(col("take")).as(Seq("pos", "s")))
      .select(col("dom"), col("s").getField("k").as("key"),
        (col("pos") + 1).cast("long").as("rk"))

  /** Deterministic global training-order permutation: every row gets its
    * 1-based position in (md5(key), key) order — the "shuffle the corpus
    * before training" step, reproducible across runs, partitionings, and
    * engines (no RNG state; the hash IS the permutation). Rows can then be
    * written sorted by `shuffle_rank` or bucketed by `shuffle_rank % n`
    * for epoch sharding.
    *
    * Scale shape: the naive form is `row_number() OVER (ORDER BY h)` — a
    * GLOBAL window, one partition holding the corpus. Here the rank is
    * [[rankBy]]'s distributed prefix count. `key` must be unique and
    * non-null. Returns (key, shuffle_rank); join on key to recover full
    * rows.
    */
  def shuffleRank(df: DataFrame, key: Column, numPartitions: Int = 0): DataFrame =
    rankBy(df, key, md5(key.cast("string")), numPartitions, "shuffle_rank")

  /** The general form of [[shuffleRank]]: every row's 1-based position
    * in (`order`, `key`) order — [[PrefixSum.exclusive]] of a constant 1,
    * plus one: one range shuffle, only the #partitions counts through the
    * driver, never a global single-partition sort. `key` must be unique
    * and non-null (the deterministic tie-break); rows with a null
    * `order` are dropped (they have no place in a total order). Returns
    * (key, <rankName>).
    */
  def rankBy(df: DataFrame, key: Column, order: Column,
             numPartitions: Int = 0, rankName: String = "rank"): DataFrame = {
    val slim = df.select(key.as("k"), order.as("h"), lit(1L).as("one"))
      .where(col("h").isNotNull)
    PrefixSum.exclusive(slim, Seq("h", "k"), "one", numPartitions = numPartitions)
      .select(col("k").as("key"), (col("prefix_excl") + 1L).as(rankName))
  }

  /** TOKEN-budget mixture: keep documents per domain, in deterministic
    * md5(key) order, until the domain's running token total reaches its
    * budget — the "2T tokens: 60% web, 20% code, …" selection step of
    * training-mixture construction. [[mixtureSample]] fixes per-domain
    * FRACTIONS of documents; [[stratifiedTake]] fixes document COUNTS;
    * this fixes token TOTALS, which is what mixture specs are written in.
    * A document is kept iff the EXCLUSIVE prefix of its domain's token
    * counts (in hash order) is below the budget — the first document of a
    * domain always admits, and the selected total overshoots the budget
    * by at most that domain's last admitted document.
    *
    * Scale shape: the naive form is a window over
    * `(PARTITION BY domain ORDER BY hash)` — ONE partition per domain,
    * pathological when one domain is most of a 100 TB corpus. Here the
    * prefix is [[PrefixSum.exclusive]] grouped by domain over the slim
    * (key, dom, n_tok, hash) rows: each domain spans contiguous range
    * partitions; only per-(partition, domain) totals go through the
    * driver, which turns them into offsets. The data shuffles once.
    *
    * `key` must be unique and non-null (it defines the deterministic
    * order); a null domain falls to `defaultBudget`. Returns
    * (key, dom, n_tok, prefix_excl) for kept rows; semi-join on key to
    * recover full rows.
    */
  def tokenBudgetSample(df: DataFrame, key: Column, domain: Column,
                        tokenCount: Column, budgets: Map[String, Long],
                        defaultBudget: Long = Long.MaxValue,
                        numPartitions: Int = 0): DataFrame = {
    require(budgets.values.forall(_ >= 0) && defaultBudget >= 0,
      "budgets must be non-negative")
    val slim = df.select(key.as("k"), domain.cast("string").as("dom"),
      coalesce(tokenCount.cast("long"), lit(0L)).as("n_tok"),
      md5(key.cast("string")).as("h"))
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (d0, b)) => when(col("dom") === d0, lit(b)).otherwise(acc)
    }
    PrefixSum.exclusive(slim, Seq("h"), "n_tok", Some("dom"), numPartitions)
      .where(col("prefix_excl") < budgetCol)
      .select(col("k").as("key"), col("dom"), col("n_tok"), col("prefix_excl"))
  }

  /** Continuous per-domain token-budget admission — the streaming twin
    * of [[tokenBudgetSample]]'s `prefix_excl < budget` rule, with
    * arrival order taking md5-order's place: every arriving document
    * either fits under its domain's remaining budget and is admitted,
    * or the domain is full and it (and everything after it) is turned
    * away. The running total accumulates ALL seen tokens, so the
    * admitted set is exactly "truncate the domain's key-ordered stream
    * at the budget line" — the rule a batch engine can replay as one
    * window prefix sum, which is the parity contract SamplingSpec
    * asserts and q156's DuckDB oracle replays (under in-key-order
    * delivery; within a trigger the batch is sorted by key so
    * intra-batch iterator order can never matter).
    *
    * Scale shape: one domain-keyed stateful exchange; per-domain state
    * is a single long (tokens seen). Batches sort only their own rows.
    * Domains are few; if one domain dominates arrival volume the
    * exchange is the admission ledger's unavoidable serialization
    * point — the state itself stays O(domains). PER-TRIGGER memory is
    * a different bound: the state function materializes and sorts one
    * domain's whole micro-batch in its task's heap (the in-key-order
    * determinism requires the sort, and group iterators are not
    * order-guaranteed), so a single trigger must be sized such that
    * its largest domain's rows fit one executor — cap it at the source
    * (maxFilesPerTrigger / maxOffsetsPerTrigger), which any admission
    * stream needs anyway for latency.
    */
  def quotaFillStream(docs: DataFrame, domain: Column, key: Column,
                      tokens: Column, budget: Long,
                      budgets: Map[String, Long] = Map.empty): DataFrame = {
    require(budget >= 0 && budgets.values.forall(_ >= 0),
      "quotaFillStream: budgets must be non-negative")
    val sp = docs.sparkSession
    implicit val rowEnc: org.apache.spark.sql.Encoder[(String, Long, Long)] =
      sp.implicits.newProductEncoder
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Long, Long, Long)] =
      sp.implicits.newProductEncoder
    implicit val stateEnc: org.apache.spark.sql.Encoder[Long] =
      sp.implicits.newLongEncoder
    implicit val keyEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val rows = docs
      .select(domain.cast("string").as("dom"), key.cast("long").as("k"),
        coalesce(tokens.cast("long"), lit(0L)).as("t"))
      .as[(String, Long, Long)]
    graft.streaming.KeyedProcess[String, (String, Long, Long),
        Long, (String, Long, Long, Long)](rows, _._1) { (dom, evs, state) =>
      // per-domain override falls back to the shared default — the
      // batch twin's budgets-map contract
      val domBudget = budgets.getOrElse(dom, budget)
      var seen = if (state.exists) state.get else 0L
      val out = evs.toSeq.sortBy(_._2).flatMap { case (_, k, t) =>
        val before = seen
        seen += t
        if (before < domBudget) Some((dom, k, t, before)) else None
      }
      state.update(seen)
      out.iterator
    }.toDF("dom", "key", "n_tok", "prefix_excl")
  }

  /** Priority sampling (Duffield–Lund–Thorup '07): a weight-proportional
    * sample of k rows WITHOUT replacement — each row draws priority
    * q = u / w with u a deterministic 52-bit uniform from the key's md5,
    * and the k smallest priorities win (inclusion probability approaches
    * min(1, k·w/Σw) — the PPS guarantee, with the scheme's near-optimal
    * subset-sum variance). Deterministic and engine-exact: the 52-bit u
    * is exact in a double, and one IEEE division is reproduced
    * identically by any engine — no RNG state, same contract as the
    * other [[Sampling]] ops.
    *
    * Scale shape: the rank is `orderBy(priority).limit(k)` =
    * TakeOrderedAndProject — per-partition top-k heaps merged once,
    * never a global sort (the q09 plan property). Non-positive or null
    * weights fail fast (a silent skip would bias the sample).
    */
  def prioritySample(df: DataFrame, key: Column, weight: Column, k: Int): DataFrame = {
    require(k > 0, "sample size k must be positive")
    val u = conv(substring(md5(key.cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double")
    val w = weight.cast("double")
    val guarded = when(w.isNull || w <= 0.0, raise_error(concat(
        lit("prioritySample: weights must be positive, got "), w.cast("string"))))
      .otherwise(w)
    df.withColumn("__pri", u / guarded)
      .orderBy(col("__pri"), key)
      .limit(k)
      .drop("__pri")
  }

  /** DSIR-style importance weights (Xie et al. '23, "Data Selection via
    * Importance Resampling"): score every raw document by how much its
    * hashed-ngram distribution looks like a TARGET corpus — the
    * domain-targeted selection step of pretraining pipelines (keep web
    * text that resembles books/wiki). Features are unigrams + bigrams
    * hashed into `buckets`; the classical per-doc weight is
    * Σ log p_target(b) − log p_raw(b). Engine-exact surrogate (q51's
    * determinism rule, same trick as [[TextAnalysis]]'s LM surprisal):
    * log2 via bitlen — weight_bits = Σ [bitlen(tc(b)+1) − bitlen(rc(b)+1)]
    * + n_feats·[bitlen(Nraw) − bitlen(Ntgt)], add-one smoothed, within
    * ~2 bits per feature of the real log weight and IDENTICAL on any
    * engine. Compose with [[prioritySample]] / a top-k to select.
    *
    * Scale shape: one pass over each corpus builds its ≤ `buckets`-row
    * count table (bounded, never corpus-sized — broadcast); the scoring
    * pass is one codegen'd scan of the raw corpus (feature kernel +
    * bucket hash + two broadcast joins against the count tables) whose
    * only exchange carries ONE slim (id, n, s) row per document — no
    * text, no features, map-side partial-aggregated. Output:
    * (id, n_feats, weight_bits). An earlier array-fold formulation with
    * broadcast MAP lookups had zero exchange but ran the scoring inside
    * interpreted higher-order lambdas — 35× slower at sf0.1; the slim
    * per-doc exchange buys whole-stage codegen for the entire pass.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, id: Column,
                        text: Column, buckets: Int = 4096): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 20), "buckets must be in [1, 2^20]")
    // pin the bounded count tables (≤ buckets rows): each corpus's
    // featurize+count pass runs ONCE, feeding both the totals and the
    // broadcast joins — unpinned, the totals aggregate and the scoring
    // join would each re-run the corpus pass
    val tc = featureCounts(target, text, buckets).localCheckpoint()
    val rc = featureCounts(raw, text, buckets).localCheckpoint()
    val totals = tc.agg(coalesce(sum(col("c")), lit(0L)).as("nt"))
      .crossJoin(rc.agg(coalesce(sum(col("c")), lit(0L)).as("nr"))).head
    scoreAgainst(raw, id, text, buckets, tc, rc,
      totals.getLong(0), totals.getLong(1))
  }

  /** Hashed unigram+bigram features of a text column — the DSIR feature
    * stream: codegen'd kernels end to end.
    */
  private def features(text: Column): Column = {
    val t = Stateless.tokens(text)
    concat(t, graft.functions.Kernels.word_ngrams(t, 2))
  }

  private def bucket(f: Column, buckets: Int): Column =
    conv(substring(md5(f), 1, 8), 16, 10).cast("long") % buckets

  private def bitlen(c: Column): Column = length(bin(c)).cast("long")

  /** Bucket-count table (b, c) of a corpus's feature stream — ≤ `buckets`
    * rows, one codegen'd pass (the [[DsirModel]] build unit).
    */
  private[ops] def featureCounts(df: DataFrame, text: Column,
                                 buckets: Int): DataFrame =
    df.select(explode(features(text)).as("f"))
      .select(bucket(col("f"), buckets).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))

  /** Score `df` against prepared count tables (see
    * [[importanceWeights]] for the arithmetic and scale shape).
    */
  private[ops] def scoreAgainst(df: DataFrame, id: Column, text: Column,
                                buckets: Int, tc: DataFrame, rc: DataFrame,
                                nt: Long, nr: Long): DataFrame =
    // explode_outer keeps featureless docs (their single null-bucket row
    // contributes bitlen(1) - bitlen(1) = 0 and n_feats counts the real
    // features separately)
    df.select(id.as("id"), features(text).as("fs"))
      .select(col("id"), size(col("fs")).cast("long").as("n_feats"),
        explode_outer(col("fs")).as("f"))
      .select(col("id"), col("n_feats"), bucket(col("f"), buckets).as("b"))
      .join(broadcast(tc.select(col("b"), col("c").as("tcnt"))), Seq("b"), "left_outer")
      .join(broadcast(rc.select(col("b"), col("c").as("rcnt"))), Seq("b"), "left_outer")
      .groupBy(col("id"))
      .agg(first(col("n_feats")).as("n_feats"),
        sum(bitlen(coalesce(col("tcnt"), lit(0L)) + 1)
          - bitlen(coalesce(col("rcnt"), lit(0L)) + 1)).as("s"))
      .select(col("id"), col("n_feats"),
        (col("s") + col("n_feats") * (bitlen(lit(nr)) - bitlen(lit(nt))))
          .as("weight_bits"))

  /** Per-stratum [[prioritySample]]: the k smallest priorities WITHIN
    * each stratum win — a weight-proportional sample per domain/source,
    * the mixture-building primitive when per-stratum quotas matter
    * (q65's stratified take is unweighted hash order; q97's priority
    * sample is global). Same deterministic 52-bit md5 uniform, same
    * fail-fast weight guard.
    *
    * Scale shape: rank-within-stratum filters through Spark's
    * WindowGroupLimit, which keeps k rows per stratum in a bounded heap
    * on the MAP side before the stratum exchange (plan-asserted) — the
    * shuffle carries at most k rows per stratum per map partition, so a
    * hot stratum never floods one reducer with its full population.
    */
  def prioritySamplePerKey(df: DataFrame, stratum: Column, key: Column,
                           weight: Column, k: Int): DataFrame = {
    require(k > 0, "per-stratum sample size k must be positive")
    val u = conv(substring(md5(key.cast("string")), 1, 13), 16, 10)
      .cast("long").cast("double")
    val w = weight.cast("double")
    val guarded = when(w.isNull || w <= 0.0, raise_error(concat(
        lit("prioritySamplePerKey: weights must be positive, got "), w.cast("string"))))
      .otherwise(w)
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(col("__pri"), key)
    df.withColumn("__pri", u / guarded)
      .withColumn("__rk", row_number().over(win))
      .where(col("__rk") <= k)
      .drop("__pri", "__rk")
  }

  /** Coordinated (consistent-hash) sampling — the cross-table sampling
    * rule that makes SAMPLES JOINABLE: every table keeps exactly the
    * rows whose KEY hashes into the kept bucket range, so
    * sample(A) ⋈ sample(B) == sample(A ⋈ B) on that key, and a
    * `keep/buckets` fraction of the key space survives with ALL its
    * rows everywhere (dev-slice extraction, join-preserving
    * downsampling for pipeline dry-runs — a uniform per-row sample
    * destroys the join; this preserves it by construction). The
    * bucket is `splitmix64(polyBase(str(key))) mod buckets` — the
    * engine's portable hash family, so the slice is deterministic
    * across runs AND DuckDB-replayable; power-of-two buckets keep the
    * signed/unsigned arithmetic engine-exact. Growing the slice only
    * ADDS keys (bucket < keep is monotone in keep) — a coordinated
    * ramp-up never resamples what it already kept.
    *
    * Scale shape: a scan-level filter, no shuffle, no state.
    */
  def coordinatedBucket(key: Column, buckets: Int): Column = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"coordinatedBucket: buckets must be a power of two, got $buckets")
    pmod(element_at(
      graft.functions.Kernels.minhash_signature(array(key.cast("string")), 1), 1),
      lit(buckets.toLong))
  }

  /** Keep the rows whose key falls in the first `keep` of `buckets`
    * hash buckets — see [[coordinatedBucket]].
    */
  def coordinatedSample(df: DataFrame, key: Column, buckets: Int,
                        keep: Int): DataFrame = {
    require(keep >= 1 && keep <= buckets,
      s"coordinatedSample: keep must be in [1, $buckets], got $keep")
    df.where(coordinatedBucket(key, buckets) < keep)
  }
}
