package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The fluent façade end-to-end: the reference's flagship word-count
  * pipeline (examples/word_count.py:54-84 — add_source → flat_map → map →
  * key_by → window → reduce → filter → add_sink) in both batch and
  * streaming form.
  */
class StreamEnvSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000)

  test("batch word count through the fluent API") {
    val env = StreamEnv(spark)
    val out = env.fromCollection(Seq("the cat the dog", "the bird"))
      .flatMapRecords(graft.ops.Stateless.tokens(col("value")), "word")
      .keyBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .filterRecords(col("cnt") > 2)
      .df.as[(String, Long)].collect()
    assert(out.toSeq == Seq(("the", 3L)))
  }

  test("streaming windowed word count through the fluent API") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val env = StreamEnv(spark)
    val stream = env.fromBatch(in.toDF().toDF("line", "ts"))
      .flatMapRecords(graft.ops.Stateless.tokens(col("line")), "word")
      .withEventTime("ts", "5 seconds")
      .keyBy(col("word"))
      .window(col("ts"), "10 seconds")
      .agg(count(lit(1)).as("cnt"))
    val q = stream.toMemorySink("env_wc", OutputMode.Append())
    try {
      in.addData(("spark spark flink", ts(2)), ("spark", ts(4)))
      q.processAllAvailable()
      in.addData(("x", ts(30)))
      q.processAllAvailable()
      val rows = spark.table("env_wc").select("word", "cnt").as[(String, Long)].collect().toSet
      assert(rows == Set(("spark", 3L), ("flink", 1L)))
    } finally q.stop()
  }

  test("file-watch word count: JSON drops through fromFileStream") {
    // the reference's flagship pipeline over a watched directory: each
    // JSON file dropped in is one micro-batch; the second file's late
    // timestamp advances the watermark past the first window, firing it
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, StandardCopyOption}
    val root = Files.createTempDirectory("graft_file_stream")
    val dir = Files.createDirectory(root.resolve("in"))
    // write beside the watched directory, then move in atomically, so the
    // running query never lists a half-written file
    def drop(name: String, lines: String*): Unit = Files.move(
      Files.write(root.resolve(name), lines.mkString("\n").getBytes("UTF-8")),
      dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    drop("b1.json",
      """{"line":"spark streams spark","ts":"2024-01-01T00:00:02Z"}""",
      """{"line":"flink spark","ts":"2024-01-01T00:00:07Z"}""")
    val schema = StructType(Seq(
      StructField("line", StringType), StructField("ts", TimestampType)))
    val q = StreamEnv(spark).fromFileStream(dir.toString, "json", schema)
      .flatMapRecords(graft.ops.Stateless.tokens(col("line")), "word")
      .withEventTime("ts", "5 seconds")
      .keyBy(col("word"))
      .window(col("ts"), "10 seconds")
      .agg(count(lit(1)).as("cnt"))
      .toMemorySink("file_wc", OutputMode.Append())
    try {
      q.processAllAvailable()
      assert(spark.table("file_wc").count() == 0, "window fired below its watermark")
      drop("b2.json", """{"line":"later","ts":"2024-01-01T00:00:30Z"}""")
      q.processAllAvailable()
      val rows = spark.table("file_wc").select("word", "cnt").as[(String, Long)].collect().toSet
      assert(rows == Set(("spark", 3L), ("streams", 1L), ("flink", 1L)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("filter AFTER windowed aggregation inside the streaming query (SURVEY §7.4.2)") {
    // the reference's flagship pipeline shape: ... window -> reduce ->
    // filter(count > N) -> sink (examples/word_count.py:35-37). In append
    // mode the filter applies to final fired windows.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val q = StreamEnv(spark).fromBatch(in.toDF().toDF("line", "ts"))
      .flatMapRecords(graft.ops.Stateless.tokens(col("line")), "word")
      .withEventTime("ts", "5 seconds")
      .keyBy(col("word"))
      .window(col("ts"), "10 seconds")
      .agg(count(lit(1)).as("cnt"))
      .filterRecords(col("cnt") > 2)
      .toMemorySink("env_wc_filtered", OutputMode.Append())
    try {
      in.addData(("a a a b b c", ts(3)))
      q.processAllAvailable()
      in.addData(("later", ts(30)))
      q.processAllAvailable()
      val rows = spark.table("env_wc_filtered").select("word", "cnt").as[(String, Long)].collect().toSet
      assert(rows == Set(("a", 3L)))
    } finally q.stop()
  }

  test("corpus ops run unchanged inside a streaming query (stateless exprs)") {
    // PII scrub, quality stats, and mixture sampling are pure column
    // expressions / narrow predicates, so the same operators screen a
    // live document stream with zero state — the streaming half of the
    // batch corpus pipeline (q57/q58/q61)
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamEnv(spark).fromBatch(in.toDF().toDF("doc_id", "text"))
      .mapRecords(
        "doc_id" -> col("doc_id"),
        "redacted" -> graft.ops.TextAnalysis.redactPii(col("text")),
        "n_toks" -> graft.ops.TextAnalysis.tokenCount(col("text")))
      .filterRecords(col("n_toks") >= 2)
      .toMemorySink("stream_corpus", OutputMode.Append())
    try {
      in.addData((1L, "reach me at who@example.org now"), (2L, "short"),
        (3L, "server 10.1.2.3 responded"))
      q.processAllAvailable()
      val rows = spark.table("stream_corpus")
        .select("doc_id", "redacted").as[(Long, String)].collect().toMap
      assert(rows == Map(
        1L -> "reach me at <EMAIL> now",
        3L -> "server <IP> responded")) // doc 2 dropped by the length gate
    } finally q.stop()
  }

  test("quality classifier gates a live document stream (zero state, codegen'd)") {
    // the q91 inference pass is one narrow projection, so it drops into
    // a stream unchanged — the admission gate of a live ingestion
    // pipeline (classify, keep, NFC-fingerprint the survivors)
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val scored = graft.ops.Classifier.qualityClassify(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"))
    val q = StreamEnv(spark).fromBatch(scored)
      .filterRecords(col("keep"))
      .toMemorySink("stream_quality", OutputMode.Append())
    try {
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog and it is a fine day"),
        (2L, "@@@@ #### $$$$ %%%% ^^^^ &&&& 019283 ++++ ...."))
      q.processAllAvailable()
      val kept = spark.table("stream_quality").select("id").as[Long].collect().toSet
      assert(kept == Set(1L), s"prose passes, symbol soup dies: got $kept")
    } finally q.stop()
  }

  test("CDC chunking runs unchanged inside a live stream (narrow, stateless)") {
    // cdcChunks is kernel + transform/explode only — no aggregation, no
    // state — so a document stream chunks per micro-batch as-is: the
    // ingestion shape of an incremental chunk-level dedup pipeline
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val chunks = graft.ops.TextAnalysis.cdcChunks(
      in.toDF().toDF("doc_id", "text"), col("doc_id"), col("text"),
      window = 5, maskBits = 4)
    val q = StreamEnv(spark).fromBatch(chunks)
      .toMemorySink("stream_cdc", OutputMode.Append())
    try {
      val words = (0 until 120).map(i => s"w${(i * 37) % 50}").mkString(" ")
      in.addData((1L, words), (2L, "tiny doc"))
      q.processAllAvailable()
      in.addData((3L, "inserted prefix " + words))
      q.processAllAvailable()
      val got = spark.table("stream_cdc")
        .select("doc_id", "chunk_idx", "chunk_fp")
        .as[(Long, Long, String)].collect()
      val byDoc = got.groupBy(_._1)
      assert(byDoc.keySet == Set(1L, 2L, 3L))
      // the CDC property holds across micro-batches: doc 3 (edited copy
      // of doc 1, arriving in a LATER batch) shares suffix chunks
      val f1 = byDoc(1L).map(_._3).toSet
      val f3 = byDoc(3L).map(_._3).toSet
      assert((f1 & f3).nonEmpty, "no shared chunks across batches")
      // batch and stream produce identical chunks for the same doc
      val batch = graft.ops.TextAnalysis.cdcChunks(
          Seq((1L, words)).toDF("doc_id", "text"), col("doc_id"), col("text"),
          window = 5, maskBits = 4)
        .select("chunk_idx", "chunk_fp").as[(Long, String)].collect().toSet
      assert(byDoc(1L).map(c => (c._2, c._3)).toSet == batch)
    } finally q.stop()
  }

  test("running aggregate surface matches reference agg_func set") {
    val env = StreamEnv(spark)
    val data = Seq(("a", 2.0), ("a", 4.0), ("b", 10.0))
    def run(f: String) = env.fromCollection(data).keyBy(col("_1")).aggregate(f, col("_2"))
      .df.as[(String, Double)].collect().toMap
    assert(run("sum") == Map("a" -> 6.0, "b" -> 10.0))
    assert(run("avg") == Map("a" -> 3.0, "b" -> 10.0))
    assert(run("min") == Map("a" -> 2.0, "b" -> 10.0))
    assert(run("max") == Map("a" -> 4.0, "b" -> 10.0))
    val cnt = env.fromCollection(data).keyBy(col("_1")).aggregate("count", col("_2"))
      .df.as[(String, Long)].collect().toMap
    assert(cnt == Map("a" -> 2L, "b" -> 1L))
  }
}
