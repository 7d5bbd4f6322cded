package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def queriesDf = Seq(
    (0L, "merge sort join table"), (1L, "stream window filter slow")
  ).toDF("qid", "qtext")

  private def results(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.as[(Long, Long, Long, Long)].collect().sorted.toSeq

  /** Driver-side BM25 replica from first principles — same integer
    * formula, independent code path (plain Scala maps, no Spark).
    */
  private def bruteForce(docs: Seq[(Long, String)], queries: Seq[(Long, String)],
                         k: Int): Seq[(Long, Long, Long, Long)] = {
    def tok(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bitlen(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val toks = docs.map { case (id, t) => id -> tok(t) }.toMap
    val n = docs.size.toLong
    val tot = toks.valuesIterator.map(_.size.toLong).sum
    val avgdl = math.max(1L, tot / n)
    val df = toks.valuesIterator.flatMap(_.distinct).toSeq
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    queries.flatMap { case (qid, qt) =>
      val terms = tok(qt).distinct.filter(df.contains)
      val scores = toks.toSeq.flatMap { case (id, ts) =>
        val s = terms.map { t =>
          val tf = ts.count(_ == t).toLong
          if (tf == 0) 0L
          else {
            val rel = (ts.size.toLong * 1024L) / avgdl
            val sat = (tf * 46137344L) / (tf * 20480L + 6144L + 18L * rel)
            bitlen(n / df(t)) * sat
          }
        }.sum
        if (s > 0) Some((id, s)) else None
      }
      scores.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((id, s), i) => (qid, id, s, i + 1L) }
    }
  }

  test("topK == driver-side integer replica on the corpus") {
    val docs = Tables(spark, sf).documents
    val raw = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val got = results(Bm25Index.topK(docs, col("doc_id"), col("text"),
      queriesDf, col("qid"), col("qtext"), k = 10))
    val want = bruteForce(raw, Seq(0L -> "merge sort join table",
      1L -> "stream window filter slow"), 10).sorted
    assert(got == want && got.size == 20)
  }

  test("standing index search == one-shot topK; scan is term-pruned") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    val searched = Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, k = 10)
    assert(results(searched) == results(Bm25Index.topK(docs, col("doc_id"),
      col("text"), queriesDf, col("qid"), col("qtext"), k = 10)))
    // the postings scan carries a pushed In(term, ...) parquet filter and
    // reads only the posting columns — the corpus never fully scans
    val plan = searched.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), s"term filter not pushed:\n$plan")
    // the only data exchanges hash (qid, doc_id) partial sums or the
    // qid-keyed bounded top-k heaps — never a corpus-keyed shuffle
    val hashEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(l => l.contains("hashpartitioning(qid#")),
      s"unexpected exchange in search:\n${hashEx.mkString("\n")}")
  }

  test("searchAll: boolean AND == brute-force containment; plan stays term-pruned") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25_all").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    import spark.implicits._
    val qs = Seq((0L, "the data"), (1L, "the"), (2L, "zz_never_a_term the"),
      (3L, "")).toDF("qid", "qtext")
    val got = Bm25Index.searchAll(spark, qs, col("qid"), col("qtext"), dir)
      .as[(Long, Long)].collect().toSet
    val toks = docs.select(col("doc_id"),
        graft.ops.Stateless.tokens(col("text")).as("ts"))
      .as[(Long, Seq[String])].collect()
    val want = (for {
      (qid, terms) <- Seq(0L -> Seq("the", "data"), 1L -> Seq("the"))
      (d, ts) <- toks if terms.forall(ts.contains)
    } yield (qid, d)).toSet
    assert(got == want, s"AND semantics drifted (got ${got.size}, want ${want.size})")
    assert(!got.exists(_._1 == 2L), "a corpus-absent term must make its query unsatisfiable")
    assert(!got.exists(_._1 == 3L), "an empty query returns no rows, not all docs")
    assert(want.exists(_._1 == 0L), "the fixture must produce real AND matches")
    val plan = Bm25Index.searchAll(spark, qs, col("qid"), col("qtext"), dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term"), s"term filter not pushed:\n$plan")
  }

  test("searchPhrase: consecutive-sequence semantics, not bag-of-words") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d"), (2L, "b a c"), (3L, "c a b")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_bm25_ph").toString + "/idx"
    Bm25Index.build(corpus, col("doc_id"), col("text"), dir)
    val qs = Seq((0L, "a b"), (1L, "a b c"), (2L, "d"), (3L, "a x")).toDF("qid", "qtext")
    val got = Bm25Index.searchPhrase(spark, qs, col("qid"), col("qtext"),
        corpus, col("doc_id"), col("text"), dir)
      .as[(Long, Long)].collect().toSet
    // "a b": docs 1 and 3 carry the sequence; doc 2 has both tokens but
    // never adjacent in order — the boolean AND would admit it, the
    // phrase verify must not. "a b c": only doc 1. "d": single-token
    // phrase == containment. "a x": x unseen -> unsatisfiable.
    assert(got == Set((0L, 1L), (0L, 3L), (1L, 1L), (2L, 1L)))
  }

  test("append == fresh build over the union, bit for bit") {
    val docs = Tables(spark, sf).documents
    val d1 = Files.createTempDirectory("graft_bm25").toString + "/idx"
    val d2 = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs.where(col("doc_id") < 300), col("doc_id"), col("text"), d1)
    Bm25Index.append(docs.where(col("doc_id") >= 300), col("doc_id"), col("text"), d1)
    Bm25Index.build(docs, col("doc_id"), col("text"), d2)
    val q = queriesDf
    assert(results(Bm25Index.search(spark, q, col("qid"), col("qtext"), d1, 10)) ==
      results(Bm25Index.search(spark, q, col("qid"), col("qtext"), d2, 10)))
  }

  test("remove == fresh build over the survivors (df/meta subtract exactly)") {
    val docs = Tables(spark, sf).documents
    val d1 = Files.createTempDirectory("graft_bm25").toString + "/idx"
    val d2 = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), d1)
    Bm25Index.remove(spark, docs.where(col("doc_id") % 3 === 0),
      col("doc_id"), d1)
    Bm25Index.build(docs.where(col("doc_id") % 3 =!= 0), col("doc_id"), col("text"), d2)
    val q = queriesDf
    assert(results(Bm25Index.search(spark, q, col("qid"), col("qtext"), d1, 10)) ==
      results(Bm25Index.search(spark, q, col("qid"), col("qtext"), d2, 10)))
    // removed docs are gone from the results
    val ids = Bm25Index.search(spark, q, col("qid"), col("qtext"), d1, 10)
      .select(col("doc_id")).as[Long].collect()
    assert(ids.forall(_ % 3 != 0))
    // swap hygiene: no leftover staging/backup dirs
    for (sub <- Seq("_post", "_len", "_model")) {
      assert(!Files.exists(java.nio.file.Paths.get(s"$d1/$sub.next")))
      assert(!Files.exists(java.nio.file.Paths.get(s"$d1/$sub.old")))
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$d1/_post/_staging")))
  }

  test("compact: results invariant, postings fold to the requested file count") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs.where(col("doc_id") < 200), col("doc_id"), col("text"), dir)
    Bm25Index.append(docs.where(col("doc_id") >= 200 && col("doc_id") < 400),
      col("doc_id"), col("text"), dir)
    Bm25Index.append(docs.where(col("doc_id") >= 400), col("doc_id"), col("text"), dir)
    val before = results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10))
    // pre-compact: three folds on disk
    assert(new java.io.File(s"$dir/_post").listFiles()
      .count(_.getName.startsWith("fold=")) == 3)
    Bm25Index.compact(spark, dir, partitions = 4)
    assert(results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10)) == before)
    // post-compact: one fresh fold holding at most the requested file count
    val folds = new java.io.File(s"$dir/_post").listFiles()
      .filter(_.getName.startsWith("fold="))
    assert(folds.length == 1)
    val files = folds.head.listFiles().count(_.getName.endsWith(".parquet"))
    assert(files <= 4, s"compaction left $files postings files")
  }

  test("append ledger: a re-delivered stream batch id is skipped, not double-counted") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs.where(col("doc_id") < 400), col("doc_id"), col("text"), dir)
    val batch = docs.where(col("doc_id") >= 400)
    Bm25Index.append(batch, col("doc_id"), col("text"), dir, batchId = 0L)
    val after = results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10))
    // replayed delivery of the same batch id: no-op
    Bm25Index.append(batch, col("doc_id"), col("text"), dir, batchId = 0L)
    assert(results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10)) == after)
    val n = spark.read.parquet(s"$dir/_model/meta").head.getLong(0)
    assert(n == 500) // registry not doubled
  }

  test("appendStream: doc micro-batches fold in; result == one batch build") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs.where(col("doc_id") < 250), col("doc_id"), col("text"), dir)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val q = Bm25Index.appendStream(spark, in.toDF().toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir, ephemeralOk = true)
    val rest = docs.where(col("doc_id") >= 250)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    in.addData(rest.filter(_._1 < 400).toSeq)
    q.processAllAvailable()
    in.addData(rest.filter(_._1 >= 400).toSeq)
    q.processAllAvailable()
    q.stop()
    val d2 = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), d2)
    assert(results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10)) ==
      results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), d2, 10)))
  }

  test("appendStream restart on a durable checkpoint: docs added while down become searchable") {
    // the ledger skips batch ids <= last_batch, so a restarted query
    // must continue the ids — the same checkpoint keeps them ascending
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val stage = graft.core.TempDirs.create("graft_bm25_restart")
    graft.streaming.Replay.writeOrderedSlices(
      docs.where(col("doc_id") >= 250 && col("doc_id") < 400), col("doc_id"), stage, 2)
    val dir = graft.core.TempDirs.create("graft_bm25_restart_idx") + "/idx"
    val ckpt = graft.core.TempDirs.create("graft_bm25_restart_ckpt")
    Bm25Index.build(docs.where(col("doc_id") < 250), col("doc_id"), col("text"), dir)
    // the first batch id this query run executed
    def run(): Long = {
      val q = Bm25Index.appendStream(spark,
        graft.streaming.Replay.orderedStream(spark, stage, docs.schema),
        col("doc_id"), col("text"), dir, checkpoint = Some(ckpt))
      try { q.processAllAvailable(); q.recentProgress.map(_.batchId).min } finally q.stop()
    }
    def lastBatch() = spark.read.parquet(s"$dir/_model/meta").head.getAs[Long]("last_batch")
    assert(run() == 0L)
    assert(lastBatch() == 1L)
    // new docs arrive while the query is down, then it restarts
    graft.streaming.Replay.appendSlice(stage, docs.where(col("doc_id") >= 400), 2)
    assert(run() == 2L, "the restart must resume batch ids from the checkpoint")
    assert(lastBatch() == 2L)
    val full = graft.core.TempDirs.create("graft_bm25_restart_full") + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), full)
    assert(results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10)) ==
      results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), full, 10)))
  }

  test("zero-token and unmatched docs: registry counts them, results skip them") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, ""), (3L, "   "),
      (4L, "gamma delta")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    // n_docs counts all four docs (avgdl denominator), but only matching
    // docs surface
    val m = spark.read.parquet(s"$dir/_model/meta").head
    assert(m.getLong(0) == 4 && m.getLong(1) == 5)
    val q = Seq((0L, "alpha"), (1L, "zeta")).toDF("qid", "qtext")
    val got = results(Bm25Index.search(spark, q, col("qid"), col("qtext"), dir, 5))
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L))) // qid 1 matches nothing
    // removing a zero-token doc still balances the registry exactly
    Bm25Index.remove(spark, Seq(2L).toDF("id"), col("id"), dir)
    val m2 = spark.read.parquet(s"$dir/_model/meta").head
    assert(m2.getLong(0) == 3 && m2.getLong(1) == 5)
  }

  test("searchStream: query micro-batches retrieve against the standing index") {
    val docs = Tables(spark, sf).documents
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = Bm25Index.searchStream(spark,
      in.toDF().toDF("qid", "qtext"), col("qid"), col("qtext"), dir, k = 10) { b =>
      got ++= b.as[(Long, Long, Long, Long)].collect()
    }
    in.addData((0L, "merge sort join table"))
    q.processAllAvailable()
    in.addData((1L, "stream window filter slow"))
    q.processAllAvailable()
    q.stop()
    val want = results(Bm25Index.search(spark, queriesDf, col("qid"), col("qtext"), dir, 10))
    assert(got.sorted.toSeq == want && got.size == 20)
  }

  test("guards: positive k, bounded query vocabulary, empty corpus") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val q = Seq((0L, "alpha")).toDF("qid", "qtext")
    assertThrows[IllegalArgumentException] {
      Bm25Index.topK(docs, col("doc_id"), col("text"), q, col("qid"), col("qtext"), 0)
    }
    val dir = Files.createTempDirectory("graft_bm25").toString + "/idx"
    Bm25Index.build(docs, col("doc_id"), col("text"), dir)
    assertThrows[IllegalArgumentException] {
      Bm25Index.search(spark, q, col("qid"), col("qtext"), dir, 5, maxQueryTerms = 0)
    }
    assertThrows[IllegalArgumentException] {
      Bm25Index.topK(docs.where(col("doc_id") < 0), col("doc_id"), col("text"),
        q, col("qid"), col("qtext"), 5).collect()
    }
  }
}
