package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.SwapStore

/** Substring search ("grep") over a document corpus through a standing
  * character-trigram index — the accelerated form of `text LIKE
  * '%pattern%'`, which no token index can answer (patterns cross token
  * boundaries and match inside words).
  *
  * Postings are the DISTINCT character 3-grams of the lowercased text:
  * `(gram, doc_id)`. A pattern of length ≥ 3 contains each of its own
  * 3-grams contiguously, so every matching document carries ALL the
  * pattern's grams — candidates are the docs whose matched-gram count
  * equals the pattern's distinct-gram count (the same counting AND as
  * [[Bm25Index.searchAll]]), then only the candidates' text is fetched
  * for the exact `contains` verify (grams are necessary, not
  * sufficient: "abcabd" carries the grams of "abcd" without the
  * substring).
  *
  * Scale shape: the postings scan is pruned to the pattern's grams by a
  * pushed `gram IN (...)` parquet filter over range-partitioned,
  * sorted gram files (footer min/max skips whole files); the corpus is
  * read only for the candidate semi join. Nothing corpus-sized ever
  * shuffles — the one exchange hashes slim (qid, doc_id) candidate
  * rows. Case folds via `lower` on both index and query side.
  *
  * Reference scope: the reference platform has no retrieval surface
  * (SURVEY §2.8); this extends the standing-index family
  * ([[Bm25Index]] lexical, [[IvfIndex]] vector) with the substring
  * axis an LLM-data pipeline needs for contamination greps, PII
  * pattern sweeps, and boilerplate hunting over 100 TB.
  */
object TrigramIndex {

  private val N = 3 // character n-gram width

  private def norm(text: Column): Column = lower(text)

  /** Distinct character 3-grams of a (already normalized) string
    * column; empty array below 3 chars (Spark's `sequence(1, 0)`
    * DESCENDS, so the short case must short-circuit).
    */
  private[ops] def grams(s: Column): Column =
    when(length(s) < N, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(s) - (N - 1)),
        i => substr(s, i, lit(N)))))

  private val postSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "gram STRING, doc_id BIGINT")

  private def requireIntegralId(df: DataFrame): DataFrame = {
    val dt = df.schema("doc_id").dataType
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt.simpleString),
      s"trigram: doc id must be integral, got ${dt.simpleString}")
    df.withColumn("doc_id", col("doc_id").cast("long"))
  }

  private def postings(docs: DataFrame, id: Column, text: Column): DataFrame =
    requireIntegralId(
      docs.select(id.as("doc_id"), grams(norm(text)).as("gs"))
        .select(col("doc_id"), explode(col("gs")).as("gram")))

  private def readPost(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(postSchema).parquet(s"$path/_post")
      .select(col("gram"), col("doc_id"))

  private case class Meta(folds: Long, lastBatch: Long)

  private def meta(spark: SparkSession, path: String): Meta = {
    val m = SwapStore.readParquet(spark, s"$path/_model/meta")
      .select(col("folds"), col("last_batch")).head
    Meta(m.getLong(0), m.getLong(1))
  }

  /** df (gram, df) + meta commit together as ONE `_model` swap — the
    * df table powers rarest-gram selection at search time, the meta
    * `last_batch` is the exactly-once ledger.
    */
  private def writeModel(spark: SparkSession, dir: String,
                         df: DataFrame, m: Meta): Unit = {
    df.write.mode("overwrite").parquet(s"$dir/df")
    spark.range(1)
      .select(lit(m.folds).as("folds"), lit(m.lastBatch).as("last_batch"))
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  // small row groups: the search-side pushed `gram IN` prunes at
  // row-group min/max granularity, and posting reads should cost the
  // selected grams' lists, not an eighth of the corpus
  private def commitFold(df: DataFrame, dir: String, fold: Long): Unit =
    SwapStore.commitFold(df, dir, fold, Map("parquet.block.size" -> (4L << 20).toString))

  /** Build the persisted index at `path`: one tokenize pass into fold 0,
    * gram-range-partitioned and sorted so [[search]]'s pushed filter
    * skips whole files by footer min/max.
    */
  def build(docs: DataFrame, id: Column, text: Column, path: String): Unit = {
    val spark = docs.sparkSession
    commitFold(postings(docs, id, text)
      .repartitionByRange(col("gram")).sortWithinPartitions(col("gram")),
      s"$path/_post", 0L)
    writeModel(spark, s"$path/_model",
      readPost(spark, path).groupBy(col("gram")).agg(count(lit(1)).as("df")),
      Meta(folds = 0L, lastBatch = -1L))
  }

  /** Substring search: `queries` is (qid, pattern); output (qid,
    * doc_id) for every document whose text contains the pattern
    * (case-insensitive). Patterns shorter than 3 characters fail fast —
    * a trigram index cannot prune them and a silent corpus scan is
    * never what an index caller wants.
    *
    * Candidate generation uses only each pattern's `gramsPerQuery`
    * RAREST grams (by the index's df table — the code-search trick): a
    * matching document contains EVERY pattern gram, so requiring any
    * subset stays complete, and dropping the common grams ("e ", "th")
    * keeps the postings read proportional to the rare grams' lists
    * instead of the corpus. The contains verify makes the result exact
    * either way.
    */
  /** Query tables are tiny BY CONTRACT — they drive driver-side gram
    * selection, so an accidentally corpus-sized pattern table must
    * fail fast instead of OOMing the driver: the collect is bounded
    * at `maxPatterns + 1` rows and over-budget sets raise, the
    * [[search]] `maxQueryGrams` posture applied one step earlier.
    */
  private def collectPatterns(queries: DataFrame, qid: Column, qtext: Column,
                              what: String, maxPatterns: Int): Seq[(Long, String)] = {
    require(maxPatterns > 0, s"trigram $what: maxPatterns must be positive")
    val pats = queries.select(qid.cast("long").as("qid"), norm(qtext).as("pat"))
      .limit(maxPatterns + 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    require(pats.length <= maxPatterns,
      s"trigram $what: the query table exceeds maxPatterns=$maxPatterns " +
        "patterns — pattern sets are alerting-scale by contract (they drive " +
        "driver-side gram selection); batch the queries or raise maxPatterns")
    pats
  }

  def search(spark: SparkSession, queries: DataFrame, qid: Column, qtext: Column,
             corpus: DataFrame, id: Column, text: Column, path: String,
             maxQueryGrams: Int = 10000, gramsPerQuery: Int = 4,
             maxPatterns: Int = 1000): DataFrame = {
    require(gramsPerQuery > 0, "trigram search: gramsPerQuery must be positive")
    import spark.implicits._
    // query tables are tiny by contract (maxPatterns-bounded):
    // collect ONCE and drive selection locally — index search latency
    // is job-count-bound, not data-bound, so the whole path is three
    // jobs (queries, pruned df read, the search itself)
    val pats = collectPatterns(queries, qid, qtext, "search", maxPatterns)
    val short = pats.filter(_._2.length < N)
    require(short.isEmpty,
      s"trigram search: ${short.size} pattern(s) shorter than $N chars (e.g. " +
        s"'${short.head._2}') — the index cannot prune them; filter or pad")
    val patsDf = pats.toDF("qid", "pat")
    // gram the literal patterns through the SAME Column expression the
    // build used (local-relation job: no scan, keeps the char/codepoint
    // semantics bit-identical to the index side)
    val qgAll = patsDf.select(col("qid"), explode(grams(col("pat"))).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    searchCore(spark, patsDf, qgAll, corpus, id, text, path,
      maxQueryGrams, gramsPerQuery, (s, p) => contains(s, p))
  }

  /** The literal runs of a LIKE pattern — maximal wildcard-free
    * substrings. Every one of them must appear contiguously in any
    * matching document, so their grams are REQUIRED grams ([[searchLike]]).
    */
  private[ops] def literalRuns(pat: String): Seq[String] =
    pat.split("[%_]").toSeq.filter(_.nonEmpty)

  /** Wildcard (SQL LIKE) search over the same index: `queries` is
    * (qid, pattern) with `%`/`_` wildcards; output (qid, doc_id) for
    * every document whose lowercased text matches the LOWERCASED
    * pattern under full anchored LIKE semantics (lead/trail with `%`
    * for substring behavior). The code-search move: a matching
    * document must contain every literal run of the pattern as a
    * contiguous substring, so the runs' trigrams are required grams —
    * candidate pruning is [[search]]'s counting AND over the union of
    * all runs' grams, then the exact per-row LIKE verify runs on
    * candidates only.
    *
    * Fail-fast posture: a pattern with no literal run of >= 3 chars
    * cannot be pruned (the `<3 chars` rule); backslashes are rejected
    * because escape semantics are engine-specific (Spark defaults to
    * `\`-escape, ANSI LIKE has none).
    */
  def searchLike(spark: SparkSession, queries: DataFrame, qid: Column,
                 qtext: Column, corpus: DataFrame, id: Column, text: Column,
                 path: String, maxQueryGrams: Int = 10000,
                 gramsPerQuery: Int = 4, maxPatterns: Int = 1000): DataFrame = {
    require(gramsPerQuery > 0, "trigram searchLike: gramsPerQuery must be positive")
    import spark.implicits._
    val pats = collectPatterns(queries, qid, qtext, "searchLike", maxPatterns)
    val esc = pats.filter(_._2.contains("\\"))
    require(esc.isEmpty,
      s"trigram searchLike: ${esc.size} pattern(s) contain a backslash (e.g. " +
        s"'${esc.headOption.map(_._2).getOrElse("")}') — escape semantics are " +
        "engine-specific; pre-resolve escapes or drop them")
    val weak = pats.filter { case (_, p) => !literalRuns(p).exists(_.length >= N) }
    require(weak.isEmpty,
      s"trigram searchLike: ${weak.size} pattern(s) with no literal run of >= $N " +
        s"chars (e.g. '${weak.headOption.map(_._2).getOrElse("")}') — the index " +
        "cannot prune them; a silent corpus scan is never what an index caller wants")
    val patsDf = pats.toDF("qid", "pat")
    // gram each run through the SAME Column expression the build used
    // (search's bit-identical-semantics discipline); union across a
    // pattern's runs, distinct per query
    val runsDf = pats.flatMap { case (q, p) =>
      literalRuns(p).filter(_.length >= N).map(q -> _)
    }.toDF("qid", "run")
    val qgAll = runsDf.select(col("qid"), explode(grams(col("run"))).as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).distinct.toSeq
    searchCore(spark, patsDf, qgAll, corpus, id, text, path,
      maxQueryGrams, gramsPerQuery,
      (s, p) => call_function("like", s, p))
  }

  /** Regex metacharacters [[searchRegex]] refuses: groups, classes,
    * bounded repeats, and escapes defeat simple required-literal
    * extraction (a literal inside `(a|b)` is not required — and with
    * groups rejected, every `|` is TOP-LEVEL, which [[searchRegex]]
    * handles as the OR of its branches' counting-ANDs), and `^`/`$`
    * anchor differently across engines (Java's `$` accepts a final
    * line terminator, RE2's does not). The supported subset —
    * literals plus `.` `*` `+` `?` and top-level `|` — keeps the
    * extraction sound and the verify engine-portable.
    */
  private[ops] val regexMeta: Set[Char] =
    Set('(', ')', '[', ']', '{', '}', '\\', '^', '$')

  /** REQUIRED literal runs of a restricted regex: maximal literal
    * stretches every match must contain contiguously. `.` breaks a
    * run; `X?`/`X*` make X optional, so X leaves its run and the run
    * breaks; `X+` keeps X (required at least once) but breaks the run
    * after it (repeats may separate it from what follows).
    */
  private[ops] def regexLiteralRuns(pat: String): Seq[String] = {
    val runs = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) runs += cur.toString; cur.clear() }
    pat.foreach {
      case '.' => flush()
      case '*' | '?' =>
        if (cur.nonEmpty) cur.setLength(cur.length - 1)
        flush()
      case '+' => flush()
      case c => cur.append(c)
    }
    flush()
    runs.toSeq
  }

  /** Regex search over the same index — the full code-search trick
    * (the module's citation): REQUIRED literal runs extracted from a
    * restricted regex (literals + `.` `*` `+` `?`; see [[regexMeta]]
    * for what is refused and why) become the counting-AND grams, then
    * an exact per-row `regexp_like` verify (unanchored find semantics,
    * identical across Spark and DuckDB's RE2 for this subset) runs on
    * candidates only. Patterns are matched against the LOWERCASED
    * text, like every search on this index; patterns with no
    * extractable 3+-char literal run fail fast — the index cannot
    * prune them and a silent corpus scan is never what an index
    * caller wants.
    */
  def searchRegex(spark: SparkSession, queries: DataFrame, qid: Column,
                  qtext: Column, corpus: DataFrame, id: Column, text: Column,
                  path: String, maxQueryGrams: Int = 10000,
                  gramsPerQuery: Int = 4, maxPatterns: Int = 1000): DataFrame = {
    require(gramsPerQuery > 0, "trigram searchRegex: gramsPerQuery must be positive")
    import spark.implicits._
    val pats = collectPatterns(queries, qid, qtext, "searchRegex", maxPatterns)
    val bad = pats.filter { case (_, p) => p.exists(regexMeta) }
    require(bad.isEmpty,
      s"trigram searchRegex: ${bad.size} pattern(s) use unsupported regex " +
        s"metacharacters (e.g. '${bad.headOption.map(_._2).getOrElse("")}') — " +
        "groups/classes/escapes/anchors defeat required-literal " +
        "extraction; supported: literals plus . * + ? and top-level |")
    // with groups rejected every `|` is top-level, so a pattern is the
    // OR of its branches: a match contains SOME branch's required
    // runs, and completeness needs EVERY branch to carry a 3+-char one
    // (an empty branch — 'a||b', '|a' — matches everywhere and can
    // never be pruned)
    // -1 limit: a TRAILING empty branch ('merge|') must surface like
    // any other — Java's default split silently drops it
    def branchesOf(p: String): Seq[String] = p.split("\\|", -1).toSeq
    val weak = pats.filter { case (_, p) =>
      branchesOf(p).exists(b => !regexLiteralRuns(b).exists(_.length >= N)) }
    require(weak.isEmpty,
      s"trigram searchRegex: ${weak.size} pattern(s) with an alternation branch " +
        s"lacking a literal run of >= $N chars (e.g. " +
        s"'${weak.headOption.map(_._2).getOrElse("")}') — the index cannot prune " +
        "that branch; a silent corpus scan is never what an index caller wants")
    if (!pats.exists(_._2.contains('|'))) {
      // no alternation: the single-branch fast path, one counting-AND
      // per pattern
      val patsDf = pats.toDF("qid", "pat")
      val runsDf = pats.flatMap { case (q, p) =>
        regexLiteralRuns(p).filter(_.length >= N).map(q -> _)
      }.toDF("qid", "run")
      val qgAll = runsDf.select(col("qid"), explode(grams(col("run"))).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1))).distinct.toSeq
      searchCore(spark, patsDf, qgAll, corpus, id, text, path,
        maxQueryGrams, gramsPerQuery,
        (s, p) => call_function("regexp_like", s, p))
    } else {
      // alternation: every branch becomes its own counting-AND under a
      // synthetic branch id, candidates OR together (distinct after
      // the verify), and each candidate verifies against the FULL
      // pattern — exactness never rests on the branch split
      val branches = pats.flatMap { case (q, p) =>
        branchesOf(p).map(b => (q, p, b))
      }.zipWithIndex.map { case ((q, p, b), i) => (i.toLong, q, p, b) }
      val bPats = branches.map { case (cid, _, p, _) => (cid, p) }.toDF("qid", "pat")
      val qgAll = branches.flatMap { case (cid, _, _, b) =>
        regexLiteralRuns(b).filter(_.length >= N).map(cid -> _)
      }.toDF("qid", "run")
        .select(col("qid"), explode(grams(col("run"))).as("gram"))
        .collect().map(r => (r.getLong(0), r.getString(1))).distinct.toSeq
      val cidMap = branches.map { case (cid, q, _, _) => (cid, q) }
        .toDF("qid", "__real_qid")
      searchCore(spark, bPats, qgAll, corpus, id, text, path,
        maxQueryGrams, gramsPerQuery,
        (s, p) => call_function("regexp_like", s, p))
        .join(broadcast(cidMap), Seq("qid"))
        .select(col("__real_qid").as("qid"), col("doc_id"))
        .distinct()
    }
  }

  /** Shared candidate-prune + verify tail of [[search]]/[[searchLike]]:
    * rarest-k gram selection off the df table, counting-AND candidate
    * cut, then `verify(docText, pattern)` on candidates only.
    */
  private def searchCore(spark: SparkSession, patsDf: DataFrame,
                         qgAll: Seq[(Long, String)], corpus: DataFrame,
                         id: Column, text: Column, path: String,
                         maxQueryGrams: Int, gramsPerQuery: Int,
                         verify: (Column, Column) => Column): DataFrame = {
    import spark.implicits._
    val allGs = qgAll.map(_._2).distinct
    require(allGs.length <= maxQueryGrams,
      s"trigram search: ${allGs.length} distinct query grams exceed " +
        s"maxQueryGrams=$maxQueryGrams — batch the queries")
    // rarest-k selection from the (query-vocabulary-pruned) df table;
    // a gram the index has never seen has df 0 — maximally selective,
    // and correctly yields zero candidates for its query
    val dfMap = SwapStore.readParquet(spark, s"$path/_model/df")
      .where(col("gram").isin(allGs: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sel = qgAll.groupBy(_._1).iterator.flatMap { case (q, gs) =>
      gs.map(_._2).distinct
        .sortBy(g => (dfMap.getOrElse(g, 0L), g))
        .take(gramsPerQuery).map(q -> _)
    }.toSeq
    val qg = sel.toDF("qid", "gram")
    val qn = sel.groupBy(_._1).map { case (q, gs) => (q, gs.size.toLong) }
      .toSeq.toDF("qid", "__qn")
    val gs = sel.map(_._2).distinct
    // materialize candidates once (rare-gram-selective, so usually
    // small): the verify then runs as two BROADCAST joins — the corpus
    // is filtered scan-side by the candidate ids, never shuffled. A
    // low-selectivity pattern set (every rare gram still common) can
    // defeat that, so past `broadcastCandidateLimit` candidates the
    // verify falls back to shuffle joins instead of an OOM broadcast.
    val broadcastCandidateLimit = 4000000L
    val cands = candidateStage(spark, path, gs, qg, qn).localCheckpoint()
    val small = cands.count() <= broadcastCandidateLimit
    val bc = (df: DataFrame) => if (small) broadcast(df) else df
    val docsPruned = requireIntegralId(
        corpus.select(id.as("doc_id"), norm(text).as("__s")))
      .join(bc(cands.select(col("doc_id")).distinct()), Seq("doc_id"))
    docsPruned.join(bc(cands), Seq("doc_id"))
      .join(broadcast(patsDf), Seq("qid"))
      .where(verify(col("__s"), col("pat")))
      .select(col("qid"), col("doc_id"))
  }

  /** The counting-AND candidate cut over the gram-pruned postings scan
    * — package-visible so the spec can pin the pushed `In(gram)` filter
    * on the UNexecuted plan ([[search]] eagerly materializes it).
    */
  private[ops] def candidateStage(spark: SparkSession, path: String,
                                  gs: Seq[String], qg: DataFrame,
                                  qn: DataFrame): DataFrame =
    readPost(spark, path).where(col("gram").isin(gs: _*))
      .join(broadcast(qg), Seq("gram"))
      .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("__m"))
      .join(broadcast(qn), Seq("qid"))
      .where(col("__m") === col("__qn"))
      .select(col("qid"), col("doc_id"))

  /** [[search]] with match context — the grep -C of the standing
    * index: each hit also carries the FIRST match's 1-based character
    * position and a snippet of `context` characters on each side
    * (clipped at the document edges). Same candidate pruning; the
    * position/snippet work is per-hit only. Output (qid, doc_id, pos,
    * snippet).
    */
  def searchWithContext(spark: SparkSession, queries: DataFrame, qid: Column,
                        qtext: Column, corpus: DataFrame, id: Column,
                        text: Column, path: String, context: Int = 20,
                        maxQueryGrams: Int = 10000,
                        gramsPerQuery: Int = 4): DataFrame = {
    require(context >= 0, "trigram searchWithContext: context must be >= 0")
    val hits = search(spark, queries, qid, qtext, corpus, id, text, path,
      maxQueryGrams, gramsPerQuery)
    val pats = queries.select(qid.cast("long").as("qid"), norm(qtext).as("pat"))
    val docs = requireIntegralId(corpus.select(id.as("doc_id"), norm(text).as("__s")))
    hits.join(broadcast(pats), Seq("qid"))
      .join(docs, Seq("doc_id")) // hit-pruned: the join keys are the hits
      .withColumn("pos", instr(col("__s"), col("pat")).cast("long"))
      .withColumn("__from", greatest(col("pos") - context, lit(1L)))
      .withColumn("__until", // exclusive end, clipped at doc end
        least(col("pos") + length(col("pat")) + context,
          length(col("__s")).cast("long") + 1L))
      .withColumn("snippet",
        substr(col("__s"), col("__from"), col("__until") - col("__from")))
      .select(col("qid"), col("doc_id"), col("pos"), col("snippet"))
  }

  /** Fold a batch of NEW documents in as fold `folds+1` — exactly-once
    * under streaming replay via the `last_batch` ledger in the `_model`
    * swap ([[Bm25Index.append]]'s discipline: fold files commit first by
    * idempotent staging rename, then the ledger commits atomically).
    */
  def append(docs: DataFrame, id: Column, text: Column, path: String,
             batchId: Long = -1L): Unit = {
    val spark = docs.sparkSession
    val m = meta(spark, path)
    if (batchId >= 0 && batchId <= m.lastBatch) return // re-delivery
    val fold = m.folds + 1
    commitFold(postings(docs, id, text)
      .repartitionByRange(col("gram")).sortWithinPartitions(col("gram")),
      s"$path/_post", fold)
    // df grows from the WRITTEN fold (materialize-once: a replay into
    // the same fold dir recomputes the identical increment)
    val fPost = spark.read.schema(postSchema).parquet(s"$path/_post/fold=$fold")
    val grown = SwapStore.readParquet(spark, s"$path/_model/df")
      .unionByName(fPost.groupBy(col("gram")).agg(count(lit(1)).as("df")))
      .groupBy(col("gram")).agg(sum(col("df")).as("df"))
    val tmp = s"$path/_model.next"
    writeModel(spark, tmp, grown, Meta(fold, math.max(batchId, m.lastBatch)))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Continuous ingestion: [[append]] per micro-batch — the live-corpus
    * twin of [[searchStream]], exactly-once under replay given a durable
    * `checkpoint` for an index that outlives one query.
    */
  def appendStream(spark: SparkSession, docStream: DataFrame, id: Column,
                   text: Column, path: String, checkpoint: Option[String] = None,
                   ephemeralOk: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.writerStream(docStream, path, checkpoint, ephemeralOk) { (batch, bid) =>
      append(batch, id, text, path, batchId = bid)
    }

  /** Takedown: drop the given doc ids. Index-sized work, no corpus
    * re-read — postings rewrite through a broadcast anti join into one
    * fresh fold, df rederives from the survivors, so a re-issued
    * (crashed or duplicate) remove converges ([[Bm25Index.remove]]'s
    * posture).
    */
  def remove(spark: SparkSession, ids: DataFrame, idCol: Column, path: String): Unit = {
    val gone = ids.select(idCol.cast("long").as("doc_id")).distinct().localCheckpoint()
    val m = meta(spark, path)
    val fold = m.folds + 1
    val kept = readPost(spark, path).join(broadcast(gone), Seq("doc_id"), "left_anti")
    val tmpPost = s"$path/_post.next"
    commitFold(kept.repartitionByRange(col("gram")).sortWithinPartitions(col("gram")),
      tmpPost, fold)
    SwapStore.swapDirs(spark, s"$path/_post", tmpPost)
    val tmp = s"$path/_model.next"
    writeModel(spark, tmp,
      readPost(spark, path).groupBy(col("gram")).agg(count(lit(1)).as("df")),
      Meta(fold, m.lastBatch))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Rewrite postings into one fresh fold of `partitions` gram-range
    * files (small-file compaction after many [[append]]s); results
    * unchanged (spec-asserted).
    */
  def compact(spark: SparkSession, path: String, partitions: Int = 32): Unit = {
    val m = meta(spark, path)
    val fold = m.folds + 1
    val tmpPost = s"$path/_post.next"
    commitFold(readPost(spark, path)
      .repartitionByRange(partitions, col("gram")).sortWithinPartitions(col("gram")),
      tmpPost, fold)
    SwapStore.swapDirs(spark, s"$path/_post", tmpPost)
    val tmp = s"$path/_model.next"
    writeModel(spark, tmp, SwapStore.readParquet(spark, s"$path/_model/df"),
      m.copy(folds = fold))
    SwapStore.swapDirs(spark, s"$path/_model", tmp)
  }

  /** Continuous retrieval: [[search]] per micro-batch of patterns — the
    * standing-grep shape (PII sweeps, contamination alerts). Index
    * swaps from a concurrent [[append]] are picked up across batches;
    * `onBatch` must be idempotent under replay.
    */
  def searchStream(spark: SparkSession, queryStream: DataFrame, qid: Column,
                   qtext: Column, corpus: DataFrame, id: Column, text: Column,
                   path: String)
                  (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(queryStream)(batch =>
      onBatch(search(spark, batch, qid, qtext, corpus, id, text, path)))

  /** [[searchRegex]] per arriving micro-batch of patterns against the
    * standing index — the alerting/standing-grep form of the regex
    * search, same per-pattern independence as [[searchStream]].
    */
  def searchRegexStream(spark: SparkSession, queryStream: DataFrame, qid: Column,
                        qtext: Column, corpus: DataFrame, id: Column, text: Column,
                        path: String)
                       (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    SwapStore.readerStream(queryStream)(batch =>
      onBatch(searchRegex(spark, batch, qid, qtext, corpus, id, text, path)))
}
