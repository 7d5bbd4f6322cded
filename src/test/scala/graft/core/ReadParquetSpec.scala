package graft.core

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** [[SwapStore.readParquet]] against Spark's own schema inference: the
  * same schema and rows, the same errors, and no Spark job before an
  * action.
  */
class ReadParquetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  /** The helper's DataFrame equals the inferring read of `path`. */
  private def assertParity(path: String): Unit = {
    val got = SwapStore.readParquet(spark, path)
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema, path)
    assert(got.schema.json == want.schema.json, path)
    assert(rows(got) == rows(want), path)
  }

  /** The ids of the Spark jobs `body` starts, counted as SwapStoreSpec
    * counts them: after one control job in the same group has shown up
    * in the listener-fed status tracker.
    */
  private def jobsStartedBy(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"read-parquet-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "footer schema reads")
    try {
      body
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      sc.statusTracker.getJobIdsForGroup(group).sorted.toSeq.dropRight(1)
    } finally sc.clearJobGroup()
  }

  private def catalogWithSavepoint(): String = {
    val base = TempDirs.create("read_parquet_catalog")
    Catalog.init(base, Map(
      "cnt" -> Seq(0L).toDF("n"),
      "sums" -> Seq.empty[(Long, String)].toDF("k", "s")))
    val folds: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "cnt" -> ((cur, b) => cur.unionByName(b.agg(count(lit(1)).as("n")))
        .agg(sum(col("n")).as("n"))),
      "sums" -> ((cur, b) => cur.unionByName(b.select(col("k"), col("s")))))
    Catalog.ingest(spark, base, 0L, Seq((1L, "a"), (2L, "été")).toDF("k", "s"), folds)
    Catalog.savepoint(spark, base, "sp")
    Catalog.ingest(spark, base, 1L, Seq((3L, "c")).toDF("k", "s"), folds)
    base
  }

  test("every testdata table reads with the schema and rows of Spark's inference") {
    val names = new java.io.File(sf).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(names.length == 10, s"expected the 10 testdata tables, found ${names.sorted.mkString(", ")}")
    names.sorted.foreach(n => assertParity(s"$sf/$n"))
  }

  test("catalog generations, manifest, ledger and savepoint manifest read as Spark infers them") {
    val base = catalogWithSavepoint()
    val gens = Seq("cnt", "sums").flatMap(s =>
      new java.io.File(s"$base/stores/$s").listFiles().filter(_.getName.startsWith("g"))
        .map(d => s"$base/stores/$s/${d.getName}"))
    assert(gens.size >= 4, s"expected two generations per store, found $gens")
    (gens ++ Seq(s"$base/_manifest/_store/data", s"$base/_manifest/_store/ledger",
      s"$base/_savepoints/sp/manifest", s"$base/_savepoints/sp/ledger")).foreach(assertParity)
    assert(Catalog.readAt(spark, base, "sp")("sums").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "été")))
    assert(Catalog.readAll(spark, base)("cnt").as[Long].collect().toSeq == Seq(3L))
  }

  test("a vocab store's non-null nested sketch, an empty write and an index model dir") {
    val base = TempDirs.create("read_parquet_vocab")
    val docs = Seq(("web", "a b a"), ("code", "x y"), ("web", "b c")).toDF("source", "text")
    val vocab = graft.ops.Sketches.topKBuckets(docs, Seq(col("source")), lit(0L),
      explode(split(col("text"), " ")), maxItems = 16)
    vocab.write.parquet(s"$base/vocab")
    assert(spark.read.parquet(s"$base/vocab").schema("tksketch").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    assertParity(s"$base/vocab")

    spark.range(0).select(col("id"), col("id").cast("string").as("s"))
      .write.parquet(s"$base/empty")
    assertParity(s"$base/empty")
    assert(SwapStore.readParquet(spark, s"$base/empty").columns.toSeq == Seq("id", "s"))

    val idx = s"$base/bm25"
    graft.ops.Bm25Index.build(
      Seq((1L, "merge sort join"), (2L, "stream window join")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), idx)
    assertParity(s"$idx/_model/df")
  }

  test("table, store and generation reads start no Spark job before an action") {
    val base = catalogWithSavepoint()
    val store = TempDirs.create("read_parquet_store")
    SwapStore.init(Seq((1L, "a")).toDF("k", "v"), store)
    val jobs = jobsStartedBy {
      Tables(spark, sf).table("lineitem")
      Catalog.readAll(spark, base)
      Catalog.readAt(spark, base, "sp")
      SwapStore.read(spark, store)
    }
    assert(jobs.isEmpty, s"expected only the control job, got jobs ${jobs.mkString(", ")}")
  }

  test("a missing path raises Spark's PATH_NOT_FOUND; an empty dir Spark's inference error") {
    val dir = TempDirs.create("read_parquet_errors")
    val missing = s"$dir/nope"
    val got = intercept[AnalysisException](SwapStore.readParquet(spark, missing))
    val want = intercept[AnalysisException](spark.read.parquet(missing))
    assert(got.getCondition == "PATH_NOT_FOUND")
    assert(got.getMessage == want.getMessage)

    val empty = s"$dir/empty"
    spark.range(1).write.parquet(empty)
    new java.io.File(empty).listFiles().filterNot(_.getName.startsWith("_")).foreach(_.delete())
    val noData = intercept[AnalysisException](SwapStore.readParquet(spark, empty))
    assert(noData.getCondition ==
      intercept[AnalysisException](spark.read.parquet(empty)).getCondition)
    // a missing path is what the stale-read retry absorbs
    var tries = 0
    intercept[AnalysisException](SwapStore.retryingStaleReads(attempts = 2, backoffMs = 1) {
      tries += 1
      SwapStore.readParquet(spark, missing)
    })
    assert(tries == 2)
  }
}
