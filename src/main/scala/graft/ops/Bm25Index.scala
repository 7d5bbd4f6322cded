package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Lexical retrieval: BM25 top-k search over a document corpus, as a
  * one-shot operator ([[topK]]) and as a persisted standing index
  * ([[build]]/[[search]]/[[append]]/[[remove]]/[[compact]] — the lexical
  * member of the standing-index family next to the embedding-side
  * [[IvfIndex]]/[[IvfPqIndex]]: retrieval over 100 TB means BOTH a
  * vector index and an inverted text index).
  *
  * The score is the classic BM25 shape re-expressed in EXACT integer
  * arithmetic (the codebase's engine-portable posture — no
  * transcendentals, no IEEE division, so DuckDB replays it bit for bit
  * and results are identical across runs/partitionings/engines):
  *
  *   idf_bits(t)   = bitlen(N div df(t))           — ≥ 1, the bitlen
  *                   surrogate of log2(N/df) used by [[TextAnalysis]]'s
  *                   LM surprisal (bitlen(x) = floor(log2 x)+1)
  *   rel(d)        = (dl·S) div avgdl              — dl/avgdl in S=1024
  *                   fixed point, avgdl = max(1, totTokens div N)
  *   sat(t,d)      = (tf·(k1+1)·W·S) div (tf·S + k1·((1−b)·S + b·rel))
  *                   with k1 = 6/5 and b = 3/4 cleared to integers:
  *                   (tf·44·S·W) div (tf·20·S + 6·S + 18·rel), W=1024
  *   score(q,d)    = Σ_{t∈q∩d} idf_bits(t) · sat(t,d)
  *
  * sat is the standard k1/b saturation curve in W=1024 fixed point
  * (monotone in tf, asymptote (k1+1)·W·idf_bits per term); ties break
  * on doc_id.
  *
  * Scale shape: postings carry dl DENORMALIZED, so scoring never joins
  * a doc-length table — the only corpus-sized work is the postings scan,
  * and that scan is pruned to the query's terms by a pushed `term IN
  * (...)` parquet filter (query vocabularies are tiny; the pushdown is
  * plan-asserted). df and meta are broadcast-sized. The single data
  * exchange hashes slim (qid, doc_id, contrib) rows, and the per-query
  * top-k goes through the bounded-heap `collect_bottom_k` aggregate
  * (map-side partial merge), never a global sort or window.
  *
  * Reference scope: the reference platform has no retrieval surface at
  * all (SURVEY §2.8 stops at ad-hoc scalar closures); this is part of
  * the LLM-pipeline extension, the lexical complement of q39/q42's ANN.
  */
object Bm25Index {

  // k1 = K1N/K1D = 1.2, b = BN/BD = 0.75, cleared denominators below
  private val S = 1024L // dl/avgdl fixed point
  private val W = 1024L // output score fixed point

  private def toks(text: Column): Column = Stateless.tokens(text)

  private def bitlen(c: Column): Column = length(bin(c)).cast("long")

  /** (term, doc_id, tf, dl) postings of a corpus — tf with multiplicity,
    * dl the doc's total token count carried on every posting row.
    */
  private[ops] def postings(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), toks(text).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))

  /** Doc registry (doc_id, dl) — includes zero-token docs, so index
    * maintenance can account for every document (postings alone lose
    * docs whose token list is empty).
    */
  private[ops] def docLengths(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id"), size(toks(text)).cast("long").as("dl"))

  /** Score query terms against postings — the shared scoring pass.
    * `qterms` is (qid, term) DISTINCT; `df` is (term, df); both must be
    * broadcast-sized (query vocabularies are). Output one row per
    * (qid, doc) match: the summed integer BM25 score.
    */
  private def scores(post: DataFrame, qterms: DataFrame, df: DataFrame,
                     nDocs: Long, avgdl: Long): DataFrame = {
    require(nDocs > 0, "bm25: empty corpus (n_docs = 0)")
    require(avgdl > 0, "bm25: avgdl must be positive")
    val qdf = qterms.join(df, Seq("term")) // unseen query terms drop: df=0 ⇒ no postings anyway
      .withColumn("idfb", bitlen(expr(s"${nDocs}L div df")))
    post
      .join(broadcast(qdf), Seq("term"))
      .withColumn("rel", expr(s"(dl * $S) div ${avgdl}L"))
      .withColumn("sat",
        expr(s"(tf * ${44 * S * W}L) div (tf * ${20 * S}L + ${6 * S}L + 18L * rel)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("idfb") * col("sat")).as("score_fp"))
  }

  /** Bounded-heap top-k per query over scored matches: (qid, doc_id,
    * score_fp, rk), rk 1-based by (score desc, doc_id asc).
    */
  private def rank(scored: DataFrame, k: Int): DataFrame = {
    require(k > 0, "bm25: k must be positive")
    scored
      .select(col("qid"),
        struct((-col("score_fp")).as("ns"), col("doc_id")).as("s"))
      .groupBy(col("qid"))
      .agg(graft.functions.Kernels.collect_bottom_k(col("s"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s").getField("doc_id").as("doc_id"),
        (-col("s").getField("ns")).as("score_fp"),
        (col("pos") + 1).cast("long").as("rk"))
  }

  /** One-shot BM25 top-k: queries (qid, qtext) against docs (id, text).
    * Two corpus passes (postings + df/meta derive from the same
    * aggregate), no persistence — the ad-hoc form of [[search]].
    */
  def topK(docs: DataFrame, id: Column, text: Column,
           queries: DataFrame, qid: Column, qtext: Column, k: Int): DataFrame = {
    // pin the bounded postings table: the df table, the meta totals and
    // the scoring join all read it — unpinned, the corpus tokenize+count
    // pass would run three times
    val post = postings(docs, id, text).localCheckpoint()
    val df = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lens = docLengths(docs, id, text)
    val m = lens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("tot"),
      coalesce(max(col("dl")), lit(0L)).as("mx")).head
    guardDl(m.getLong(2))
    val (n, tot) = (m.getLong(0), m.getLong(1))
    val qt = queries.select(qid.as("qid"), explode(toks(qtext)).as("term")).distinct()
    rank(scores(post, qt, df, n, math.max(1L, if (n == 0) 1L else tot / n)), k)
  }

  // ---- standing index layout ----
  //   _post/fold=K/   (term, doc_id, tf, dl) — range-partitioned on term
  //   _len/fold=K/    (doc_id, dl) — the full doc registry
  //   _model/df/      (term, df)
  //   _model/meta/    (n_docs, tot_tokens, folds, last_batch)
  // Folds commit by an atomic staging rename; df+meta commit together as
  // ONE _model swap, whose last_batch ledger makes streaming [[append]]s
  // exactly-once under replay (KMeansIndex's fold discipline).

  private val postSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT")
  private val lenSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, dl BIGINT")

  // ids persist as BIGINT; reject non-integral ids loudly (a string id
  // would cast to null and silently corrupt the registry)
  private def requireIntegralId(df: DataFrame): DataFrame = {
    val dt = df.schema("doc_id").dataType
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt.simpleString),
      s"bm25: doc id must be integral, got ${dt.simpleString}")
    df.withColumn("doc_id", col("doc_id").cast("long"))
  }

  private def readPost(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(postSchema).parquet(s"$path/_post")
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  private def readLen(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(lenSchema).parquet(s"$path/_len")
      .select(col("doc_id"), col("dl"))

  private case class Meta(nDocs: Long, totTokens: Long, folds: Long, lastBatch: Long)

  private def meta(spark: SparkSession, path: String): Meta = {
    val m = SwapStore.readParquet(spark, s"$path/_model/meta")
      .select(col("n_docs"), col("tot_tokens"), col("folds"), col("last_batch")).head
    Meta(m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3))
  }

  /** Write df+meta to `dir` (no swap — build writes the final dir,
    * mutations write a tmp and [[SwapStore.swapDirs]] it in).
    */
  private def writeModel(dir: String, df: DataFrame, m: Meta): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/df")
    df.sparkSession.range(1)
      .select(lit(m.nDocs).as("n_docs"), lit(m.totTokens).as("tot_tokens"),
        lit(m.folds).as("folds"), lit(m.lastBatch).as("last_batch"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  // fail-fast overflow posture (KMeans.fit's discipline): tf ≤ dl and the
  // saturation numerator is tf·44·S·W ≈ tf·2^25.5, so dl must stay under
  // 2^37 for the arithmetic to be exact in a Long — a "document" past 137
  // billion tokens is a pipeline bug, not a document
  private def guardDl(maxDl: Long): Unit =
    require(maxDl < (1L << 37),
      s"bm25: max doc length $maxDl exceeds 2^37 tokens — the integer " +
        "saturation arithmetic would overflow Long; split the document")

  /** (rows, token total) of a registry frame, with the dl guard. */
  private def lenStats(lens: DataFrame): (Long, Long) = {
    val m = lens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("tot"),
      coalesce(max(col("dl")), lit(0L)).as("mx")).head
    guardDl(m.getLong(2))
    (m.getLong(0), m.getLong(1))
  }

  /** Build the persisted index: one tokenize pass over the corpus into
    * fold 0. Postings repartition by RANGE on term so each parquet file
    * covers a contiguous term slice — [[search]]'s pushed `term IN`
    * filter then skips whole files by footer min/max, not just sorted
    * row groups (measured 3× on scenario 20).
    */
  def build(docs: DataFrame, id: Column, text: Column, path: String): Unit = {
    val spark = docs.sparkSession
    val post = requireIntegralId(postings(docs, id, text)).localCheckpoint()
    SwapStore.commitFold(post.repartitionByRange(col("term")).sortWithinPartitions(col("term")),
      s"$path/_post", 0L)
    val lens = requireIntegralId(docLengths(docs, id, text)).localCheckpoint()
    SwapStore.commitFold(lens, s"$path/_len", 0L)
    val (n, tot) = lenStats(lens)
    writeModel(s"$path/_model",
      post.groupBy(col("term")).agg(count(lit(1)).as("df")),
      Meta(n, tot, folds = 0L, lastBatch = -1L))
  }

  /** Search the standing index. The query's distinct terms are collected
    * (query vocabularies are tiny by construction — bounded by
    * `maxQueryTerms`, fail-fast above it) and pushed into the postings
    * scan as a parquet `In` filter: the corpus-sized table is PRUNED AT
    * THE SCAN, never fully read, never shuffled.
    */
  def search(spark: SparkSession, queries: DataFrame, qid: Column, qtext: Column,
             path: String, k: Int, maxQueryTerms: Int = 10000): DataFrame = {
    val qt = queries.select(qid.as("qid"), explode(toks(qtext)).as("term"))
      .distinct().localCheckpoint()
    val terms = qt.select(col("term")).distinct().collect().map(_.getString(0))
    require(terms.length <= maxQueryTerms,
      s"bm25 search: ${terms.length} distinct query terms exceed " +
        s"maxQueryTerms=$maxQueryTerms — raise the cap or batch the queries")
    val m = meta(spark, path)
    val post = readPost(spark, path).where(col("term").isin(terms.toSeq: _*))
    val df = SwapStore.readParquet(spark, s"$path/_model/df")
      .where(col("term").isin(terms.toSeq: _*))
    rank(scores(post, qt, df, m.nDocs,
      math.max(1L, if (m.nDocs == 0) 1L else m.totTokens / m.nDocs)), k)
  }

  /** Boolean AND retrieval over the standing index: the documents
    * containing EVERY term of each query — the exact-match complement
    * of [[search]]'s ranked scoring (alerting rules, mandatory-term
    * filters, retrieval-before-rank candidate cuts). A query term
    * absent from the corpus makes its query unsatisfiable (no doc
    * reaches the required count); a query with no tokens returns no
    * rows (the vacuous all-docs answer is never what a filter means).
    *
    * Scale shape identical to [[search]]: the postings scan prunes to
    * the query vocabulary at the source (`isin` over ≤ maxQueryTerms
    * literals), candidates exchange once on (qid, doc), and the AND is
    * a counting aggregate against the broadcast per-query term counts
    * — postings are (term, doc)-unique by construction, so no per-doc
    * term set ever materializes.
    */
  def searchAll(spark: SparkSession, queries: DataFrame, qid: Column,
                qtext: Column, path: String,
                maxQueryTerms: Int = 10000): DataFrame = {
    val qt = queries.select(qid.as("qid"), explode(toks(qtext)).as("term"))
      .distinct().localCheckpoint()
    val terms = qt.select(col("term")).distinct().collect().map(_.getString(0))
    require(terms.length <= maxQueryTerms,
      s"bm25 searchAll: ${terms.length} distinct query terms exceed " +
        s"maxQueryTerms=$maxQueryTerms — raise the cap or batch the queries")
    val qn = qt.groupBy(col("qid")).agg(count(lit(1)).as("__qn"))
    readPost(spark, path).where(col("term").isin(terms.toSeq: _*))
      .join(broadcast(qt), Seq("term"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("__m"))
      .join(broadcast(qn), Seq("qid"))
      .where(col("__m") === col("__qn"))
      .select(col("qid"), col("doc_id"))
  }

  /** Phrase retrieval: the documents containing each query's tokens AS
    * A CONSECUTIVE SEQUENCE. Two stages: [[searchAll]] cuts candidates
    * from the postings (a doc lacking any term cannot contain the
    * phrase — the scan-pruned cheap stage), then only the CANDIDATE
    * documents' token arrays are fetched from `corpus` (semi join on
    * doc id) and verified positionally with a slice-equality scan —
    * per-candidate work, never corpus-wide. The index stores no
    * positions by design (postings stay BM25-sized); the corpus pays
    * one candidate-pruned read instead, the right trade while
    * candidate sets are query-selective. Output `(qid, doc_id)`.
    */
  def searchPhrase(spark: SparkSession, queries: DataFrame, qid: Column,
                   qtext: Column, corpus: DataFrame, id: Column, text: Column,
                   path: String, maxQueryTerms: Int = 10000): DataFrame = {
    val cands = searchAll(spark, queries, qid, qtext, path, maxQueryTerms)
    val q = queries.select(qid.as("qid"), toks(qtext).as("__qt"))
    val docs = corpus.select(id.as("doc_id"), toks(text).as("__dt"))
      .join(cands.select(col("doc_id")).distinct(), Seq("doc_id"))
    cands.join(broadcast(q), Seq("qid")).join(docs, Seq("doc_id"))
      .where(size(col("__dt")) >= size(col("__qt")) && size(col("__qt")) > 0 &&
        expr("exists(sequence(1, size(__dt) - size(__qt) + 1), " +
          "i -> slice(__dt, i, size(__qt)) == __qt)"))
      .select(col("qid"), col("doc_id"))
  }

  /** Continuous retrieval: [[search]] per micro-batch of queries — the
    * standing-query shape (alerting, routing, dedup-by-retrieval). The
    * index re-reads each batch, so an [[append]]/[[remove]]/[[compact]]
    * swap is picked up across batches; the swap's missing-path window
    * retries like every index consumer ([[SwapStore.retryingStaleReads]]),
    * so `onBatch` must be idempotent under replay.
    */
  def searchStream(spark: SparkSession, queryStream: DataFrame, qid: Column,
                   qtext: Column, path: String, k: Int)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(queryStream)(batch =>
      onBatch(search(spark, batch, qid, qtext, path, k)))

  /** Fold a new batch of documents in as fold `folds+1` — batch-sized
    * work (batch ids must be NEW documents; postings are per-(term,
    * doc) and a re-ingested doc would double-count). df and meta are
    * additive, so the result equals a fresh [[build]] over the union
    * (spec-asserted bit-identical).
    *
    * Crash safety / exactly-once: the fold files commit first by
    * staging rename (replay rewrites the same bytes), then df+meta
    * commit together in ONE `_model` swap carrying the `last_batch`
    * ledger — a streaming re-delivery (batchId ≤ last_batch) returns
    * before touching anything, and a crash between fold commit and
    * model swap replays into the same fold dir. The batch's stats
    * aggregate from the WRITTEN fold (materialize-once), so a
    * nondeterministic source folds consistently.
    */
  def append(docs: DataFrame, id: Column, text: Column, path: String,
             batchId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    val m = meta(spark, path)
    if (batchId >= 0 && batchId <= m.lastBatch) return // re-delivery
    val fold = m.folds + 1
    SwapStore.commitFold(requireIntegralId(postings(docs, id, text))
      .repartitionByRange(col("term")).sortWithinPartitions(col("term")),
      s"$path/_post", fold)
    SwapStore.commitFold(requireIntegralId(docLengths(docs, id, text)), s"$path/_len", fold)
    val fPost = spark.read.schema(postSchema).parquet(s"$path/_post/fold=$fold")
    val fLen = spark.read.schema(lenSchema).parquet(s"$path/_len/fold=$fold")
    val (bn, btot) = lenStats(fLen)
    val grown = SwapStore.readParquet(spark, s"$path/_model/df")
      .unionByName(fPost.groupBy(col("term")).agg(count(lit(1)).as("df")))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val tmp = s"$path/_model.next"
    writeModel(tmp, grown, Meta(m.nDocs + bn, m.totTokens + btot, fold,
      math.max(batchId, m.lastBatch)))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Continuous ingestion: [[append]] per micro-batch of documents with
    * the batch id recorded in the model ledger — EXACTLY-ONCE under
    * replay (a re-delivered batch is skipped; a crashed fold replays
    * into the same fold dir), given a durable `checkpoint` for an index
    * that outlives one query. The streaming twin of [[searchStream]]:
    * together they are live retrieval over a live corpus.
    */
  def appendStream(spark: SparkSession, docStream: DataFrame, id: Column,
                   text: Column, path: String, checkpoint: Option[String] = None,
                   ephemeralOk: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.writerStream(docStream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      append(batch, id, text, path, batchId = bid)
    }

  /** Takedown: drop the given doc ids. Index-sized work, no corpus
    * re-read: postings and registry rewrite through a broadcast anti
    * join into a single fresh fold, then the ENTIRE model rederives
    * from the surviving postings/registry — so a re-issued (crashed or
    * duplicate) remove converges to the same state, and the result
    * equals a fresh [[build]] over the survivors (spec-asserted).
    */
  def remove(spark: SparkSession, ids: DataFrame, idCol: Column, path: String): Unit = {
    val gone = ids.select(idCol.as("doc_id")).distinct().localCheckpoint()
    val m = meta(spark, path)
    val fold = m.folds + 1
    val kept = readPost(spark, path).join(broadcast(gone), Seq("doc_id"), "left_anti")
    val tmpPost = s"$path/_post.next"
    SwapStore.commitFold(kept.repartitionByRange(col("term")).sortWithinPartitions(col("term")),
      tmpPost, fold)
    SwapStore.swapDirs(spark, s"$path/_post", tmpPost)
    val lens = readLen(spark, path).join(broadcast(gone), Seq("doc_id"), "left_anti")
    val tmpLen = s"$path/_len.next"
    SwapStore.commitFold(lens, tmpLen, fold)
    SwapStore.swapDirs(spark, s"$path/_len", tmpLen)
    val (n, tot) = lenStats(readLen(spark, path))
    val tmp = s"$path/_model.next"
    writeModel(tmp,
      readPost(spark, path).groupBy(col("term")).agg(count(lit(1)).as("df")),
      Meta(n, tot, fold, m.lastBatch))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Rewrite postings into one fresh fold of `partitions` term-range
    * files (small-file compaction after many [[append]]s); results are
    * unchanged (spec-asserted). The model swap only bumps the fold
    * counter.
    */
  def compact(spark: SparkSession, path: String, partitions: Int = 32): Unit = {
    val m = meta(spark, path)
    val fold = m.folds + 1
    val tmpPost = s"$path/_post.next"
    SwapStore.commitFold(readPost(spark, path)
      .repartitionByRange(partitions, col("term")).sortWithinPartitions(col("term")),
      tmpPost, fold)
    SwapStore.swapDirs(spark, s"$path/_post", tmpPost)
    val tmp = s"$path/_model.next"
    writeModel(tmp, SwapStore.readParquet(spark, s"$path/_model/df"), m.copy(folds = fold))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }
}
