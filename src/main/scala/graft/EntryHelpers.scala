package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import graft.sources.Tables

/** Shared machinery behind the [[SparkEntry]] driver contract: the
  * standing indexes several queries share and the replay stages, each
  * built once per (process, sf dir) through [[Fixtures]], the
  * catalog/admission scenario fixtures, and the reusable DuckDB oracle
  * fragments. Split out of SparkEntry purely for navigability.
  */
private[graft] object EntryHelpers {
  def dec(c: Column): Column = Aggregates.dec(c)

  // Standing indexes shared by several queries, one per (process, sf
  // dir) through [[Fixtures]]. Each builder lives here once, so every
  // sibling query reads the same index the first of them built.

  // q55's signature index (q55 and q151's cluster merge)
  def dedupIndex(s: SparkSession, d: String): String =
    Fixtures.once("q55_index", d) {
      val p = graft.core.TempDirs.create("graft_q55_idx")
      DedupIndex.build(Tables(s, d).documents, col("doc_id"), col("text"), p,
        shingleN = 3, numHashes = 32, bands = 16, rowsPerBand = 2)
      p
    }
  // q80's span index over the even-doc half (q80, q82 and q141 screen
  // the odd half against it)
  def spanIndex(s: SparkSession, d: String): String =
    Fixtures.once("q80_index", d) {
      val p = graft.core.TempDirs.create("graft_q80_idx")
      SpanIndex.build(Tables(s, d).documents.where(col("doc_id") % 2 === 0),
        col("doc_id"), col("text"), p, n = 8)
      p
    }
  // q103's BM25 inverted index (q103 ranked, q187 boolean-AND, q189
  // phrase and q138 streaming retrieval)
  def bm25Index(s: SparkSession, d: String): String =
    Fixtures.once("q103_index", d) {
      val p = graft.core.TempDirs.create("graft_q103_idx") + "/bm25"
      Bm25Index.build(Tables(s, d).documents, col("doc_id"), col("text"), p)
      p
    }
  // q191's trigram index (q191 substring, q221 KWIC, q223 LIKE, q226 and
  // q240 regex, and the q209/q237 streaming twins)
  def trigramIndex(s: SparkSession, d: String): String =
    Fixtures.once("q191_index", d) {
      val p = graft.core.TempDirs.create("graft_q191_idx") + "/tri"
      TrigramIndex.build(Tables(s, d).documents, col("doc_id"), col("text"), p)
      p
    }
  // q127/q132/q142's corpus split: md5's first hex digit < "8" is the
  // baseline half, the rest is the corpus version checked against it
  def vocabHalf: Column = substring(md5(col("doc_id").cast("string")), 1, 1)
  // q132's persisted vocab-count baseline over the first half
  def vocabBaseline(s: SparkSession, d: String): String =
    Fixtures.once("q132_baseline", d) {
      val t = graft.core.TempDirs.create("graft_q132")
      TextAnalysis.vocabCounts(Tables(s, d).documents.where(vocabHalf < "8"),
        col("text")).write.mode("overwrite").parquet(s"$t/baseline")
      s"$t/baseline"
    }

  // q130's delivery order: each quarter of the corpus arrives with its
  // two slices swapped ACROSS the next quarter's two slices (sentinel,
  // 8, still last). The two-position displacement matters: Spark
  // filters late rows against the watermark LAGGED ONE BATCH behind
  // eviction (SPARK-40925 — StreamingSpec's late-drop test pins it),
  // so a slice delivered only ONE position after a later slice is
  // never filtered; two positions after, it is. Under this order
  // slices 0, 1, 4 and 5 each arrive two positions behind a slice
  // ~270 h ahead of them, and with a 240 h delay each loses its
  // oldest ~30 h of windows — a PARTIAL, boundary-exercising drop the
  // oracle recomputes exactly from per-slice max event times.
  val q130Order = Seq(2, 3, 0, 1, 6, 7, 4, 5)
  // the shared out-of-order stage (q130 tumbling late-drop, q167 session
  // late-drop): events in q130Order slices plus the far-future sentinel
  def shuffledReplayDir(s: SparkSession, d: String): String =
    Fixtures.once("q130_replay", d) {
      val ev = Tables(s, d).events.select(replayCols: _*)
      val dir = graft.streaming.Replay.writeShuffledSlices(ev,
        unix_millis(col("ts")),
        graft.core.TempDirs.create("graft_q130"),
        q130Order)
      graft.streaming.Replay.appendSlice(dir, sentinelRow(s, sentinelTsUs), 8)
    }
  // full operator column set — q118/q119 use (user_id, event_type, ts),
  // q123 additionally event_id, q124 event_id + the join pair columns
  def replayCols: Seq[Column] =
    Seq(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))
  // q118/q119's time-sliced replay input, one per (process, sf dir):
  // events split into 8 contiguous ms ranges with strictly ascending
  // file mtimes, so a maxFilesPerTrigger=1 file stream delivers them in
  // EVENT-TIME order (FileStreamSource processes oldest-first) — the
  // regime where the streaming twins' parity contracts hold exactly.
  def eventsReplayDir(s: SparkSession, d: String): String =
    Fixtures.once("events_replay", d)(
      graft.streaming.Replay.writeOrderedSlices(
        Tables(s, d).events.select(replayCols: _*),
        unix_millis(col("ts")),
        graft.core.TempDirs.create("graft_evreplay")))
  def eventsReplayStream(s: SparkSession, d: String): DataFrame =
    graft.streaming.Replay.orderedStream(s, eventsReplayDir(s, d),
      Tables(s, d).events.select(replayCols: _*).schema)
  // the sentinel sits at a FIXED far-future instant (2100-01-01 UTC) and
  // consumers exclude it with a predicate ON THE EVENT-TIME COLUMN
  // (ts < 2099-01-01): Catalyst pushes filters on other columns BELOW the
  // EventTimeWatermark node (PushPredicateThroughNonJoin splits conjuncts
  // by whether they reference the watermark attribute), and a pushed-down
  // `event_type != sentinel` filter would drop the row before its event
  // time registers — silently never advancing the watermark (observed:
  // the last window stayed unflushed). A ts predicate is kept above the
  // node, so the sentinel moves the clock, then vanishes.
  val sentinelTsUs = 4102444800000000L // 2100-01-01T00:00:00Z
  def sentinelCutoff: Column =
    timestamp_micros(lit(4070908800000000L)) // 2099-01-01T00:00:00Z
  def sentinelRow(s: SparkSession, tsUs: Long): DataFrame =
    s.range(1).select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
      lit("__sentinel__").as("event_type"), lit(0.0).as("value"),
      timestamp_micros(lit(tsUs)).as("ts"))
  // q122's replay: the same 8 ordered slices PLUS a watermark-advancing
  // sentinel slice (one row a day past the corpus, event_type
  // "__sentinel__"). Separate dir — the sentinel row must never reach
  // q118/q119's user-keyed state.
  def sentinelReplayDir(s: SparkSession, d: String): String =
    Fixtures.once("sentinel_replay", d) {
      val ev = Tables(s, d).events.select(replayCols: _*)
      val dir = graft.streaming.Replay.writeOrderedSlices(ev,
        unix_millis(col("ts")),
        graft.core.TempDirs.create("graft_evreplay_s"))
      graft.streaming.Replay.appendSlice(dir, sentinelRow(s, sentinelTsUs), 8)
    }
  // q149's replay: the ordered slices plus TWO trailing sentinel slices.
  // Chained stateful aggregations cascade one micro-batch per level —
  // the first watermark advance finalizes the windowed counts, and the
  // SECOND batch lets the downstream per-window top-k agg see those
  // finalized rows and fire them (StreamingSpec's trending-tokens test
  // needed the same two flushes). Both sentinels sit past sentinelCutoff
  // so the ts predicate removes them after their event time registers.
  def trendReplayDir(s: SparkSession, d: String): String =
    Fixtures.once("trend_replay", d) {
      val ev = Tables(s, d).events.select(replayCols: _*)
      val dir = graft.streaming.Replay.writeOrderedSlices(ev,
        unix_millis(col("ts")),
        graft.core.TempDirs.create("graft_evreplay_t"))
      graft.streaming.Replay.appendSlice(dir, sentinelRow(s, sentinelTsUs), 8)
      graft.streaming.Replay.appendSlice(dir,
        sentinelRow(s, sentinelTsUs + 86400000000L), 9)
    }

  // q102/q103's shared retrieval workload: three fixed queries over the
  // corpus vocabulary (lowercase single-space, so DuckDB's split replays
  // the tokenizer exactly)
  def bm25Queries(s: SparkSession) = {
    import s.implicits._
    Seq((0L, "merge sort join table"), (1L, "stream window filter slow"),
      (2L, "customer order supplier part")).toDF("qid", "qtext")
  }
  def ms(c: Column): Column = unix_millis(c)

  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // q136-q142's shared staging: a batch frame replayed as contiguous
  // order-column slices — the continuous-ingestion regime the standing-
  // index screeners run under. Memoized per (process, sf dir, query)
  // like every replay stage (bench runs each query 3x).
  def screenReplayDir(key: String, df: => DataFrame, orderBy: Column,
                              slices: Int): String =
    Fixtures.once("screen_replay", key)(
      graft.streaming.Replay.writeOrderedSlices(df, orderBy,
        graft.core.TempDirs.create("graft_screen"), slices))

  /** Run a foreachBatch-style screening stream to completion and return
    * the union of every batch's result. Per-batch frames append to a
    * FRESH parquet staging dir — result-sized (pairs / top-k / vocab
    * counts), never corpus-sized — and the first batch pins the read
    * schema, so batches with empty results (which write no part files)
    * cost nothing and lose nothing. The union equals the batch operator
    * over the whole input because every screener's result is per-row
    * independent given the standing index (the parity contract each
    * index spec asserts for its continuous form).
    */
  def collectScreenBatches(s: SparkSession)
      (start: (DataFrame => Unit) => org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val out = graft.core.TempDirs.create("graft_screen_out")
    @volatile var sch: org.apache.spark.sql.types.StructType = null
    val q = start { b =>
      if (sch == null) sch = b.schema
      b.write.mode("append").parquet(out)
    }
    try q.processAllAvailable() finally q.stop()
    require(sch != null, "screen stream delivered no batches")
    s.read.schema(sch).parquet(out)
  }

  /** q153/q160's SHARED changelog recipe over the orders table — the
    * pair must stay in lockstep (q160's continuous fold must converge
    * to q153's one-shot refresh, and both replay [[viewMaintainOracle]]
    * in DuckDB). Prices ride as DECIMAL(18,2) (the q06 convention);
    * %5 orderkeys arrive as +I inserts, %7 base rows get their price
    * doubled via a -U/+U pair, %13∧¬%7 base rows are -D deleted. The
    * o_orderkey column rides along for q160's replay slicing;
    * maintainAgg ignores changelog columns it does not need.
    */
  def viewMaintainInput(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val o = Tables(s, d).orders
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val base = o.where(col("o_orderkey") % 5 =!= 0)
    val changes = o.where(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("p"), lit("+I").as("op"))
      .unionByName(base.where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("p"), lit("-U").as("op")))
      .unionByName(base.where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("p"), lit("+U").as("op")))
      .unionByName(base.where(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("p"), lit("-D").as("op")))
    (base, changes)
  }

  /** The one oracle both q153 and q160 declare: re-aggregate the base
    * with the changelog applied — surviving originals, doubled %7 rows,
    * %5 inserts; keys with no surviving rows drop out of the GROUP BY
    * naturally (= maintainAgg's cnt > 0).
    */
  val viewMaintainOracle: String =
    """WITH o AS (SELECT o_orderkey, o_custkey,
      |  CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice FROM orders),
      |base AS (SELECT * FROM o WHERE o_orderkey % 5 <> 0),
      |final AS (
      |  SELECT o_custkey, o_totalprice AS p FROM base
      |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice * 2 FROM base WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT o_custkey, o_totalprice FROM o WHERE o_orderkey % 5 = 0)
      |SELECT o_custkey, count(*) AS cnt, CAST(sum(p) AS DOUBLE) AS total
      |FROM final GROUP BY o_custkey""".stripMargin

  /** q154/q161's shared oracle: the sketch union is exact in the gated
    * regime, so the truth is the plain distinct count over the same day
    * slice — q161's stream-grown store must converge to it exactly.
    */
  val sketchRollupOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS users
      |FROM events WHERE (epoch_ms(ts) // 86400000) % 3 <> 1
      |GROUP BY event_type""".stripMargin

  /** q157/q162's shared oracle: the inclusive-rank percentile replay
    * (least value whose cume_dist ≥ q — what percentile_disc and an
    * uncompacted KLL sketch both compute) over the day slice.
    */
  val quantileRollupOracle: String =
    """WITH e AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(floor(value) AS BIGINT) AS value
      |  FROM events WHERE (epoch_ms(ts) // 86400000) % 3 <> 1),
      |r AS (
      |  SELECT event_type, day % 7 AS dow, value,
      |    cume_dist() OVER (PARTITION BY event_type, day % 7
      |      ORDER BY value) AS cd
      |  FROM e)
      |SELECT event_type, dow,
      |  min(CASE WHEN cd >= 0.5 THEN value END) AS p50,
      |  min(CASE WHEN cd >= 0.9 THEN value END) AS p90
      |FROM r GROUP BY event_type, dow""".stripMargin

  /** q159/q163's shared oracle: exact counts + deterministic rank over
    * the even-digit source slice (the q64 capacity-over-vocab regime).
    */
  val topkRollupOracle: String =
    """WITH t AS (
      |  SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> x <> '')) AS item
      |  FROM documents WHERE regexp_matches(source, '[02468]$')),
      |c AS (SELECT lang, item, count(*) AS cnt FROM t GROUP BY lang, item)
      |SELECT lang, item, cnt, rk FROM (
      |  SELECT lang, item, cnt,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY cnt DESC, item) AS BIGINT) AS rk
      |  FROM c) WHERE rk <= 5""".stripMargin

  /** q164/q168's shared catalog recipe: three standing sketch stores
    * over events (theta distinct-users, KLL value quantiles,
    * frequent-user top-k — all per event_type, bucketed by day), the
    * per-batch fold set, and the store-answers frame with the q44
    * in-plan exactness gates. The pair must stay in lockstep: both
    * forms (batch crash-replay q164, continuous q168) converge to the
    * same grown catalog and replay [[catalogOracle]] in DuckDB.
    */
  def catalogPrep(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("event_id"), col("event_type"), col("user_id"),
      dayBucket(col("ts")).as("day"), floor(col("value")).cast("long").as("fv"))
  def catalogFolds
      : Seq[(String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)] = Seq(
    "theta" -> ((cur, b) => Sketches.appendThetaBuckets(cur, b,
      Seq(col("event_type")), col("day"), col("user_id"))),
    "kll" -> ((cur, b) => Sketches.appendKllBuckets(cur, b,
      Seq(col("event_type")), col("day"), col("fv"), k = 65535)),
    "topk" -> ((cur, b) => Sketches.appendTopKBuckets(cur, b,
      Seq(col("event_type")), col("day"), col("user_id"))))
  def catalogInit(p: String, init: org.apache.spark.sql.DataFrame): Unit =
    graft.core.Catalog.init(p, Map(
      "theta" -> Sketches.thetaBuckets(init,
        Seq(col("event_type")), col("day"), col("user_id")),
      "kll" -> Sketches.kllBuckets(init,
        Seq(col("event_type")), col("day"), col("fv"), k = 65535),
      "topk" -> Sketches.topKBuckets(init,
        Seq(col("event_type")), col("day"), col("user_id"))))
  def catalogAnswers(s: SparkSession, d: String, base: String,
                             qname: String): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, d).events
    val stores = graft.core.Catalog.readAll(s, base) // one manifest read
    val users = Sketches.distinctOver(
      stores("theta"), Seq("event_type"), lit(true), out = "__users")
    val p50 = Sketches.quantilesOver(
      stores("kll"), Seq("event_type"), lit(true), Seq(0.5), k = 65535)
    val top = Sketches.topKOver(stores("topk"), Seq("event_type"),
        lit(true), k = 1)
      .select(col("event_type"), col("item").as("top_user"),
        col("cnt").as("__top_cnt"))
    val exact = catalogPrep(e).groupBy("event_type").agg(
      countDistinct(col("user_id")).as("__eu"),
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY fv) AS BIGINT)")
        .as("__e50"))
    val exactTop = e.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("__c").desc, col("user_id").asc)))
      .where(col("__rk") === 1)
      .select(col("event_type"), col("user_id").as("__etu"), col("__c").as("__etc"))
    def gated = exactnessGate(qname) _
    users.join(p50, Seq("event_type")).join(top, Seq("event_type"))
      .join(exact, Seq("event_type")).join(exactTop, Seq("event_type"))
      .select(col("event_type"),
        gated("__users", "__eu", "users"),
        gated("p50", "__e50", "p50"),
        gated("top_user", "__etu", "top_user"),
        gated("__top_cnt", "__etc", "top_cnt"))
  }
  /** Rebuilt-from-scratch truth for all three catalog stores — shared
    * by q164 and q168: any torn or double-applied fold in any store
    * breaks the compare.
    */
  val catalogOracle: String =
    """WITH t AS (SELECT event_type, user_id,
      |            CAST(floor(value) AS BIGINT) AS fv FROM events),
      |u AS (SELECT event_type, count(DISTINCT user_id) AS users FROM t GROUP BY 1),
      |q AS (SELECT event_type,
      |        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY fv) AS BIGINT) AS p50
      |      FROM t GROUP BY 1),
      |c AS (SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2),
      |k AS (SELECT event_type, user_id AS top_user, cnt AS top_cnt,
      |        row_number() OVER (PARTITION BY event_type
      |          ORDER BY cnt DESC, user_id) AS rk FROM c)
      |SELECT u.event_type, u.users, q.p50, k.top_user, k.top_cnt
      |FROM u JOIN q USING (event_type) JOIN k USING (event_type)
      |WHERE k.rk = 1""".stripMargin

  /** q169/q171's shared admission recipe over documents: the ingested
    * corpus is every non-benchmark doc PLUS a planted echo of each
    * (+100000 ids, same text — the cross-batch duplicates the standing
    * screen must catch); bench is the %50 docs. Three catalog stores:
    * the fingerprint set the dedup screen reads, per-source stats,
    * per-source vocabulary top-k. Both gate forms (batch q169,
    * continuous q171) must converge to the same catalog and replay
    * [[admissionOracle]].
    */
  def admissionCorpus(s: SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables(s, d).documents
    val orig = docs.where(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    (orig.unionByName(orig.withColumn("doc_id", col("doc_id") + lit(100000L))),
      docs.where(col("doc_id") % 50 === 0))
  }
  def admissionFolds
      : Seq[(String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)] = Seq(
    "fps" -> ((cur, b) =>
      cur.unionByName(b.select(col("__fp").as("fp"))).distinct()),
    "stats" -> ((cur, b) => cur.unionByName(
        b.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens")))
      .groupBy(col("source")).agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))),
    "vocab" -> ((cur, b) => Sketches.appendTopKBuckets(cur,
      b.select(col("source"), col("lang"),
        explode(Stateless.tokens(col("text"))).as("w")),
      Seq(col("source")), col("lang"), col("w"))))
  /** The doc-level lineage rows the takedown path keys on: what was
    * admitted, from which source, with which fingerprint, at what token
    * weight — tiny scalar rows, so the store folds at fps-store cost.
    */
  def admissionLineage(b: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    b.select(col("doc_id"), col("source"), col("lang"),
      col("__fp").as("fp"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  def admissionLineageFold
      : (String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
    "docs" -> ((cur, b) => cur.unionByName(admissionLineage(b)))
  def admissionInit(p: String, corpus: org.apache.spark.sql.DataFrame,
                            withLineage: Boolean = false): Unit = {
    val stores = Map(
      "fps" -> corpus.where(lit(false))
        .select(TextAnalysis.fingerprint(col("text")).as("fp")),
      "stats" -> corpus.where(lit(false)).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens")),
      "vocab" -> Sketches.topKBuckets(
        corpus.where(lit(false)).select(col("source"), col("lang"),
          explode(Stateless.tokens(col("text"))).as("w")),
        Seq(col("source")), col("lang"), col("w")))
    graft.core.Catalog.init(p, if (!withLineage) stores
      else stores + ("docs" -> admissionLineage(
        corpus.where(lit(false))
          .withColumn("__fp", TextAnalysis.fingerprint(col("text"))))))
  }
  /** The four ascending-id batches every admission gate replays:
    * originals split in two, then the echoes split in two (echo ids
    * start above 100000 at every sf).
    */
  val admissionBounds = Seq(0L, 250L, 100000L, 100250L, 100000000L)
  def admissionIngestBatch(s: SparkSession, p: String,
      corpus: org.apache.spark.sql.DataFrame, bench: org.apache.spark.sql.DataFrame,
      i: Int,
      folds: Seq[(String, (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)]): Unit = {
    val batch = corpus.where(col("doc_id") >= admissionBounds(i) &&
      col("doc_id") < admissionBounds(i + 1))
    Admission.ingest(s, p, i.toLong, Admission.screen(s, p, "fps", batch,
      col("doc_id"), col("text"), bench, col("doc_id"), col("text"),
      n = 3, threshold = 0.3), folds)
  }
  def admissionAnswersFrom(
      stores: Map[String, org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val top = Sketches.topKOver(stores("vocab"), Seq("source"), lit(true), k = 1)
      .select(col("source"), col("item").as("top_token"),
        col("cnt").as("top_cnt"))
    stores("stats").join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("top_token"), col("top_cnt"))
  }
  def admissionAnswers(s: SparkSession, base: String)
      : org.apache.spark.sql.DataFrame =
    admissionAnswersFrom(graft.core.Catalog.readAll(s, base)) // one manifest read
  /** The admitted set from scratch: min-id winner of every fingerprint
    * class over (originals ∪ echoes), minus the docs the q66
    * containment rule flags — then the three store answers (per-source
    * doc/token counts, deterministic top token) over it. Any screen
    * miss, torn fold, or double-apply in either gate form breaks the
    * compare.
    */
  // the oracle family builds from two explicit parts: the WITH-prefix
  // through the admitted set `a` (with `/*EXTRA*/` as the post-screen
  // filter hook the takedown form fills) and a per-query answer tail —
  // string surgery on a shared literal would silently no-op if the base
  // were reworded
  def admissionOraclePrefixOver(corpusSql: String): String =
    """WITH orig AS (SELECT doc_id, source, lang, text FROM documents
      |              WHERE doc_id % 50 <> 0),
      |corpus AS (/*CORPUS*/),
      |tok AS (SELECT doc_id, source, lang,
      |          list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |        FROM corpus),
      |fp AS (SELECT *, md5(array_to_string(toks, ' ')) AS fp FROM tok),
      |k AS (SELECT doc_id, source, lang, toks FROM (
      |        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |        FROM fp) WHERE rn = 1),
      |ksh AS (SELECT doc_id,
      |          list_distinct(list_transform(range(len(toks)-2),
      |            i -> array_to_string(toks[i+1:i+3], ' '))) AS s
      |        FROM k),
      |bsh AS (SELECT list_distinct(list_transform(range(len(toks)-2),
      |          i -> array_to_string(toks[i+1:i+3], ' '))) AS s
      |        FROM (SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |              FROM documents WHERE doc_id % 50 = 0)),
      |cont AS (SELECT DISTINCT t.doc_id
      |         FROM (SELECT * FROM ksh WHERE len(s) > 0) t,
      |              (SELECT * FROM bsh WHERE len(s) > 0) b
      |         WHERE CAST(len(list_intersect(t.s, b.s)) AS DOUBLE) / len(b.s) >= 0.3),
      |a AS (SELECT * FROM k WHERE doc_id NOT IN (SELECT doc_id FROM cont)/*EXTRA*/)""".stripMargin
      .replace("/*CORPUS*/", corpusSql)
  /** The standard corpus: originals plus their planted echoes. */
  val admissionCorpusSql: String =
    """SELECT doc_id, source, lang, text FROM orig
      |           UNION ALL
      |           SELECT doc_id + 100000, source, lang, text FROM orig""".stripMargin
  val admissionOraclePrefix: String =
    admissionOraclePrefixOver(admissionCorpusSql)
  val admissionStatsTail: String =
    """,
      |st AS (SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      |       FROM a GROUP BY 1),
      |w AS (SELECT source, unnest(toks) AS w FROM a),
      |wc AS (SELECT source, w, count(*) AS cnt FROM w GROUP BY 1, 2),
      |top AS (SELECT source, w AS top_token, cnt AS top_cnt FROM (
      |          SELECT source, w, cnt, row_number() OVER (PARTITION BY source
      |            ORDER BY cnt DESC, w) AS rn
      |          FROM wc) WHERE rn = 1)
      |SELECT st.source, st.n_docs, st.n_tokens, top.top_token, top.top_cnt
      |FROM st JOIN top USING (source)""".stripMargin
  val admissionOracle: String =
    admissionOraclePrefix.replace("/*EXTRA*/", "") + admissionStatsTail

  /** [[admissionOracle]] after an atomic takedown of one source: the
    * same from-scratch derivation with that source's admitted docs
    * removed before the store answers.
    */
  def admissionOracleMinus(source: String): String =
    admissionOraclePrefix.replace("/*EXTRA*/", s" AND source <> '$source'") +
      admissionStatsTail

  /** [[admissionOracle]]'s admitted set, answered per (source, lang) —
    * q176's mid-stream-added store must be indistinguishable from one
    * that existed from batch 0.
    */
  def admissionOracleByLang: String =
    admissionOraclePrefix.replace("/*EXTRA*/", "") + "\n" +
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens
        |FROM a GROUP BY 1, 2""".stripMargin

  /** The q44-convention in-plan exactness gate shared by the sketch
    * queries: output the sketch-side value, raising a named error if it
    * ever diverges from the exact side.
    */
  def exactnessGate(qname: String)(sk: String, ex: String, out: String): Column =
    when(col(sk) =!= col(ex), raise_error(concat(
      lit(s"$qname exactness regime broke at $out: sketch="), col(sk).cast("string"),
      lit(" exact="), col(ex).cast("string"))).cast("long"))
      .otherwise(col(sk)).as(out)

  /** Epoch-day bucket shared by the sketch gates (q154/q155/q157/q161)
    * — FLOOR division to match DuckDB's `//` even for pre-epoch
    * timestamps (a bare cast would truncate toward zero and diverge on
    * negative epoch-ms; |epoch_ms| < 2^53 keeps the double floor
    * exact).
    */
  def dayBucket(ts: Column): Column =
    floor(unix_millis(ts) / lit(86400000.0)).cast("long")

  /** The per-(type, day) count series q246 scores and q253's standing
    * store folds — ONE definition so the twins sharing the acf oracle
    * can never drift.
    */
  def dailyEventCounts(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("event_type"), dayBucket(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))

  // q111/q117's shared rule suite — the batch gate and its streaming twin
  // must evaluate IDENTICAL rules for the shared oracle to be valid
  def qualityRules: Seq[(String, Column)] = Seq(
    "keys_not_null" -> (col("l_orderkey").isNotNull && col("l_partkey").isNotNull),
    "qty_range" -> col("l_quantity").between(1, 50),
    "qty_under_30" -> (col("l_quantity") < 30),
    "price_positive" -> (col("l_extendedprice") > 0),
    "discount_range" -> col("l_discount").between(0, 0.1))

  /** Unrolled DuckDB replay of [[graft.ops.KMeans]]'s fixed-point Lloyd
    * fit: expects a `corpus(id, v DOUBLE[])` CTE in scope, emits CTEs
    * `xq` (floor-quantized BIGINT vectors), `c0` (md5-order init) and
    * `c1..c<iters>` (one assignment + truncating-division update per
    * iteration, empty cells keeping their centroid), plus `af` — the
    * final (id, cell) assignment against `c<iters>`. Every operation is
    * integer, so the replay is bit-identical to the Spark fit.
    */
  /** DuckDB building blocks for replaying the portable hash family
    * h_k(s) = splitmix64(polyBase(s) ^ k·GOLDEN) (KernelOps): the
    * polynomial base fold is the q47 machinery; the finalizer's
    * xor-shifts run on unsigned HUGEINT (`xor`, `// 2^n`) and its
    * wrapping multiplies split into 32-bit halves. All constants are
    * emitted as unsigned decimal literals.
    */
  def mulMod64(x: String, cUnsigned: String): String =
    s"(($x % 4294967296) * ($cUnsigned % 4294967296)" +
      s" + ((($x // 4294967296) * ($cUnsigned % 4294967296)" +
      s" + ($x % 4294967296) * ($cUnsigned // 4294967296)) % 4294967296) * 4294967296)" +
      " % 18446744073709551616"
  val mix1Lit = java.lang.Long.toUnsignedString(0xBF58476D1CE4E5B9L)
  val mix2Lit = java.lang.Long.toUnsignedString(0x94D049BB133111EBL)
  def goldenLits(n: Int): String =
    (0 until n).map(k => java.lang.Long.toUnsignedString(k * 0x9E3779B97F4A7C15L))
      .mkString(", ")

  /** The shared per-token/per-shingle polynomial base fold (q47's token
    * hash) as a DuckDB lambda body over a string element `s`.
    */
  def polyBaseSql(s: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(7 AS HUGEINT),
       |        list_transform(range(length($s)), i -> CAST(unicode(substr($s, CAST(i+1 AS INT), 1)) AS HUGEINT))),
       |      (h, c) -> (((h % 4294967296) * 1000003
       |                  + (((h // 4294967296) * 1000003) % 4294967296) * 4294967296)
       |                 + c) % 18446744073709551616
       |    )""".stripMargin

  /** Unrolled-round replay of Bpe.trainMerges + encodeWord (the q88
    * pattern): `wf`/`v0` build the character+marker vocab, then each
    * round r picks the (cnt DESC, l, r) argmax pair (a sentinel chr(1)
    * pair — matching nothing — when the max count is under minFreq=2,
    * mimicking the trainer's early stop) and applies it greedy
    * left-to-right non-overlapping. Overlapping runs (merge (a,a) on
    * "aaa") use the parity closed form: a match position starts a merge
    * iff its distance from the start of its consecutive-match run is
    * even — exactly the fold's (emitted, pending) behavior.
    */
  def bpeCtes(rounds: Int): String = {
    def round(r: Int) =
      s"""pc$r AS (
         |  SELECT p.l AS l, p.r AS r, sum(freq) AS cnt
         |  FROM (SELECT unnest(list_transform(range(len(syms)-1),
         |          i -> {'l': syms[i+1], 'r': syms[i+2]})) AS p, freq
         |        FROM v${r - 1} WHERE len(syms) >= 2)
         |  GROUP BY p.l, p.r),
         |m$r AS (
         |  SELECT CASE WHEN mc >= 2 THEN wl ELSE chr(1) END AS a,
         |         CASE WHEN mc >= 2 THEN wr ELSE chr(1) END AS b
         |  FROM (SELECT l AS wl, r AS wr, cnt AS mc FROM pc$r
         |        ORDER BY cnt DESC, l, r LIMIT 1)),
         |v$r AS (
         |  SELECT word, freq,
         |    list_filter(list_transform(range(len(syms)), p ->
         |      CASE WHEN p < len(ms) AND ms[p+1] THEN a || b
         |           WHEN p >= 1 AND ms[CAST(p AS INT)] THEN NULL
         |           ELSE syms[p+1] END), x -> x IS NOT NULL) AS syms
         |  FROM (
         |    SELECT word, freq, syms, a, b,
         |      list_transform(range(len(syms)-1), i ->
         |        mt[i+1] AND ((i - 1 - coalesce(list_max(list_filter(range(i),
         |          j -> NOT mt[j+1])), -1)) % 2 = 0)) AS ms
         |    FROM (
         |      SELECT word, freq, syms, a, b,
         |        list_transform(range(len(syms)-1),
         |          i -> syms[i+1] = a AND syms[i+2] = b) AS mt
         |      FROM v${r - 1}, m$r)))""".stripMargin
    val head =
      s"""WITH wf AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS word
         |        FROM documents)
         |  GROUP BY word),
         |v0 AS (
         |  SELECT word, freq,
         |    list_transform(range(length(word)), i -> substr(word, CAST(i+1 AS INT), 1)) || ['</w>'] AS syms
         |  FROM wf)""".stripMargin
    (head +: (1 to rounds).map(round)).mkString(",\n")
  }

  def kmeansCtes(k: Int, iters: Int, dim: Int, q: Long): String = {
    def assignSql(name: String, cents: String) =
      s"""$name AS (
         |  SELECT id, x, cell FROM (
         |    SELECT xq.id, xq.x, c.cell,
         |      row_number() OVER (PARTITION BY xq.id ORDER BY
         |        list_sum(list_transform(range($dim), j -> (xq.x[j+1]-c.cent[j+1])*(xq.x[j+1]-c.cent[j+1]))) ASC,
         |        c.cell ASC) AS rk
         |    FROM xq CROSS JOIN $cents c
         |  ) WHERE rk = 1
         |)""".stripMargin
    val head =
      s"""xq AS (
         |  SELECT id, list_transform(v, e -> CAST(floor(e * $q) AS BIGINT)) AS x FROM corpus
         |),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY mk, id) - 1 AS INTEGER) AS cell, x AS cent
         |  FROM (SELECT id, x, md5(CAST(id AS VARCHAR)) AS mk FROM xq ORDER BY mk, id LIMIT $k)
         |)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""${assignSql(s"a$i", s"c${i - 1}")},
         |s$i AS (
         |  SELECT cell, d, sum(x[d+1]) AS s, count(*) AS n
         |  FROM a$i CROSS JOIN (SELECT unnest(range($dim)) AS d) dims
         |  GROUP BY cell, d
         |),
         |n$i AS (SELECT cell, list(s // n ORDER BY d) AS cent FROM s$i GROUP BY cell),
         |c$i AS (SELECT c.cell, coalesce(n$i.cent, c.cent) AS cent
         |        FROM c${i - 1} c LEFT JOIN n$i ON c.cell = n$i.cell)""".stripMargin
    }
    (head +: iterCtes :+ assignSql("af", s"c$iters")).mkString(",\n")
  }

  // q102/q103 replay (IDENTICAL result by construction — q103 is the
  // same arithmetic through the standing index): integer BM25 with
  // bitlen idf (q81's binary-format-length trick) and the k1=6/5,
  // b=3/4 saturation curve cleared to integer rationals — constants
  // 44·S·W=46137344, 20·S=20480, 6·S=6144 with S=W=1024; every
  // division is `//` (both engines truncate; all operands positive)
  val bm25Ctes: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ts
      |  FROM documents),
      |post AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf, min(dl) AS dl
      |  FROM (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS term FROM t)
      |  GROUP BY term, doc_id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(coalesce(sum(len(ts)), 0) AS BIGINT) AS tot FROM t),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
      |q(qid, qtext) AS (VALUES (0, 'merge sort join table'),
      |                         (1, 'stream window filter slow'),
      |                         (2, 'customer order supplier part')),
      |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS term FROM q),
      |sc AS (SELECT qt.qid, post.doc_id,
      |    CAST(sum(length(format('{:b}', m.n // dft.df)) *
      |      ((post.tf * 46137344) // (post.tf * 20480 + 6144 +
      |        18 * ((post.dl * 1024) // greatest(1, m.tot // m.n))))) AS BIGINT)
      |      AS score_fp
      |  FROM qt JOIN dft USING (term) JOIN post USING (term), m
      |  GROUP BY qt.qid, post.doc_id),
      |bmr AS (SELECT CAST(qid AS BIGINT) AS qid, doc_id, score_fp,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rk
      |  FROM sc)""".stripMargin

  val bm25OracleSql: String =
    s"""$bm25Ctes
       |SELECT qid, doc_id, score_fp, rk FROM bmr WHERE rk <= 10""".stripMargin

  // q187 replay: postings re-derived, then AND = count-equality against
  // the per-query distinct term counts
  // q202: the identical DECIMAL(38,0) moments + double formula — one
  // wide moment row, then one SELECT per pair. The measures carry no
  // nulls, so unconditional sums equal the operator's
  // pairwise-complete ones.
  val corrOracle: String = {
    val cs = Seq("qty", "price", "disc", "tax")
    val pairs = for (i <- cs.indices; j <- cs.indices if i < j)
      yield (cs(i), cs(j))
    val momentCols =
      (Seq("CAST(count(*) AS BIGINT) AS n") ++
        cs.map(c => s"sum($c) AS s_$c") ++
        cs.map(c => s"sum($c * $c) AS ss_$c") ++
        pairs.map { case (a, b) => s"sum($a * $b) AS c_${a}_$b" })
        .mkString(",\n    ")
    val selects = pairs.map { case (a, b) =>
      val nD = "CAST(n AS DOUBLE)"
      val sa = s"CAST(s_$a AS DOUBLE)"
      val sb = s"CAST(s_$b AS DOUBLE)"
      val cab = s"CAST(c_${a}_$b AS DOUBLE)"
      val ssa = s"CAST(ss_$a AS DOUBLE)"
      val ssb = s"CAST(ss_$b AS DOUBLE)"
      val denom = s"(sqrt(($nD * $ssa) - ($sa * $sa)) * " +
        s"sqrt(($nD * $ssb) - ($sb * $sb)))"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n, $sa AS sum_a, $sb AS sum_b,
         |  $cab AS sum_ab, $ssa AS sum_aa, $ssb AS sum_bb,
         |  CASE WHEN $denom > 0
         |       THEN ((($nD * $cab) - ($sa * $sb)) / $denom) END AS r
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT
       |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS qty,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS price,
       |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS disc,
       |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS tax
       |  FROM lineitem),
       |m AS (SELECT $momentCols FROM v)
       |$selects""".stripMargin
  }

  val booleanSearchOracle: String =
    s"""$bm25Ctes,
       |mm AS (SELECT qt.qid, post.doc_id, CAST(count(*) AS BIGINT) AS hit
       |       FROM qt JOIN post USING (term) GROUP BY 1, 2),
       |qn AS (SELECT qid, CAST(count(*) AS BIGINT) AS qn FROM qt GROUP BY 1)
       |SELECT CAST(mm.qid AS BIGINT) AS qid, mm.doc_id
       |FROM mm JOIN qn ON mm.qid = qn.qid AND mm.hit = qn.qn""".stripMargin

  // q104 replay: the proven bm25 chain (top 10) fused with q39's cosine
  // ranking (top 5, query vectors 0-2) by reciprocal rank — integer
  // contributions 2^20 // (60 + rk), absent-list docs contribute 0
  val rrfOracleSql: String =
    s"""$bm25Ctes,
       |ann AS (SELECT query_id AS qid, cand_id AS doc_id, rk FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
       |               c.vec_id ASC) AS rk
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < 3) WHERE rk <= 5),
       |u AS (SELECT qid, doc_id, 1048576 // (60 + rk) AS c FROM bmr WHERE rk <= 10
       |      UNION ALL SELECT qid, doc_id, 1048576 // (60 + rk) FROM ann),
       |f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_fp
       |      FROM u GROUP BY qid, doc_id)
       |SELECT qid, doc_id, rrf_fp, rk FROM (
       |  SELECT qid, doc_id, rrf_fp,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rk
       |  FROM f) WHERE rk <= 10""".stripMargin

  /** The lead() window replay of the SCD-2 interval derivation —
    * shared by q165 (full build) and q182 (incremental apply): the
    * fold must be indistinguishable from the rebuild.
    */
  val scd2HistoryOracle: String =
    """WITH p AS (SELECT user_id, epoch_ms(ts) AS vms, max(value) AS p_value
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT user_id, vms, p_value,
      |  lead(vms) OVER (PARTITION BY user_id ORDER BY vms) AS valid_to,
      |  CAST(lead(vms) OVER (PARTITION BY user_id ORDER BY vms) IS NULL
      |       AS INTEGER) AS is_current
      |FROM p""".stripMargin
}
