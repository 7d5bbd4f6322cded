package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

class KMeansIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def centArrays(path: String): Map[Int, Seq[Long]] =
    KMeansIndex.centroids(spark, path)
      .select(explode(col("cents")).as("c"))
      .select(col("c.cell"), col("c.centroid"))
      .as[(Int, Array[Long])].collect().map { case (c, a) => c -> a.toSeq }.toMap

  test("build persists the fit: stored-model assignment equals the in-memory fit") {
    val em = Tables(spark, sf).embeddings.where(col("vec_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(em, col("vec_id"), col("embedding"), k = 5, iters = 2, dir)
    val fromModel = KMeansIndex.assign(spark, em, col("vec_id"), col("embedding"), dir)
      .as[(Long, Int)].collect().toMap
    val direct = KMeans.assign(em, col("vec_id"), col("embedding"),
        KMeans.fit(em, col("vec_id"), col("embedding"), k = 5, iters = 2))
      .as[(Long, Int)].collect().toMap
    assert(fromModel == direct && fromModel.size == 300)
    // stats cover every assigned vector exactly once
    val n = spark.read.parquet(s"$dir/_model/_stats")
      .where(col("d") === 0).agg(sum(col("n"))).head.getLong(0)
    assert(n == 300)
  }

  test("update folds a batch exactly: centroids = (stored + batch sums) div counts") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 300)
    val batch = em.where(col("vec_id") >= 300 && col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 5, iters = 2, dir)

    val before = centArrays(dir)
    val statsBefore = spark.read.parquet(s"$dir/_model/_stats")
      .as[(Int, Int, Long, Long)].collect()
      .map { case (c, d, s, n) => (c, d) -> ((s, n)) }.toMap
    // driver replica: assign the batch against the CURRENT centroids
    val bx = batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.floor(x * 1000000L).toLong) }
    def l2(a: Seq[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val batchAssign = bx.map { case (id, x) =>
      (before.toSeq.sortBy(_._1).map { case (cell, c) => (l2(c, x), cell) }.min._2, x)
    }
    val dim = 64
    val expected = before.map { case (cell, old) =>
      cell -> (0 until dim).map { d =>
        val (s0, n0) = statsBefore.getOrElse((cell, d), (0L, 0L))
        val members = batchAssign.filter(_._1 == cell).map(_._2(d))
        val (s, n) = (s0 + members.sum, n0 + members.size)
        if (n == 0) old(d) else s / n
      }
    }

    KMeansIndex.update(spark, batch, col("vec_id"), col("embedding"), dir)
    assert(centArrays(dir) == expected)
    // swap hygiene: no leftover temp or old dirs
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_model.update")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_model.old")))
    // counts grew by the batch
    val n = spark.read.parquet(s"$dir/_model/_stats")
      .where(col("d") === 0).agg(sum(col("n"))).head.getLong(0)
    assert(n == 400)
  }

  test("updateStream folds micro-batches; replayed batch ids are skipped (exactly-once fold)") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 4, iters = 1, dir)

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Long]
    val assignedCount = new java.util.concurrent.atomic.AtomicLong(0)
    val emb = em.select(col("vec_id"), col("embedding")).localCheckpoint()
    val q = KMeansIndex.updateStream(spark,
      source.toDF().toDF("vid")
        .join(emb, col("vid") === col("vec_id")),
      col("vec_id"), col("embedding"), dir, ephemeralOk = true) { out =>
      assignedCount.addAndGet(out.count())
    }
    try {
      source.addData(200L until 260L: _*)
      q.processAllAvailable()
      source.addData(260L until 300L: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(assignedCount.get() == 100)
    val n = spark.read.parquet(s"$dir/_model/_stats")
      .where(col("d") === 0).agg(sum(col("n"))).head.getLong(0)
    assert(n == 300, s"stream folds lost or doubled: total count $n")
    assert(KMeansIndex.lastBatchId(spark, dir) >= 1)
    // a replayed batch id must be a no-op
    val before = centArrays(dir)
    KMeansIndex.update(spark, em.where(col("vec_id") < 50),
      col("vec_id"), col("embedding"), dir, batchId = 0L)
    assert(centArrays(dir) == before, "replayed batch id was folded twice")
  }

  test("two identical models updated with the same batch stay bit-identical") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 200)
    val batch = em.where(col("vec_id") >= 200 && col("vec_id") < 260).repartition(7)
    val d1 = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    val d2 = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 4, iters = 1, d1)
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 4, iters = 1, d2)
    KMeansIndex.update(spark, batch, col("vec_id"), col("embedding"), d1)
    KMeansIndex.update(spark, batch.repartition(3), col("vec_id"), col("embedding"), d2)
    assert(centArrays(d1) == centArrays(d2))
  }

  test("remove subtracts rows exactly at their recorded cells (takedown == refold of survivors)") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 300)
    val batch = em.where(col("vec_id") >= 300 && col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 5, iters = 2, dir)
    // drift the model so batch rows' RECORDED cells differ from what a
    // re-assignment against post-remove centroids could produce
    KMeansIndex.update(spark, batch, col("vec_id"), col("embedding"), dir)

    // expected = refold the surviving sidecar rows at their recorded
    // cells: stats are sums over survivors, centroids s div n with
    // emptied cells keeping the pre-remove centroid
    val preCents = centArrays(dir)
    val side = KMeansIndex.assignments(spark, dir)
      .as[(Long, Int)].collect().toMap
    assert(side.size == 400)
    val removeIds = (side.keys.filter(_ % 7 == 0) ++ Seq(301L, 399L)).toSet
    val vecs = em.where(col("vec_id") < 400)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.floor(x * 1000000L).toLong) }
      .toMap
    val survivors = side.view.filterKeys(id => !removeIds.contains(id)).toMap
    val dim = 64
    val expectedCents = preCents.map { case (cell, old) =>
      val members = survivors.collect { case (id, c) if c == cell => vecs(id) }
      cell -> (0 until dim).map { d =>
        if (members.isEmpty) old(d)
        else members.map(_(d)).sum / members.size
      }
    }

    KMeansIndex.remove(spark, dir,
      removeIds.toSeq.toDF("rid"), col("rid"))
    assert(centArrays(dir) == expectedCents)
    // the sidecar now holds exactly the survivors
    val after = KMeansIndex.assignments(spark, dir).as[(Long, Int)].collect().toMap
    assert(after == survivors)
    // counts match the survivor population
    val n = spark.read.parquet(s"$dir/_model/_stats")
      .where(col("d") === 0).agg(sum(col("n"))).head.getLong(0)
    assert(n == survivors.size)
    // re-issuing the same takedown is a no-op, never a double subtraction
    val centsAfter = centArrays(dir)
    KMeansIndex.remove(spark, dir, removeIds.toSeq.toDF("rid"), col("rid"))
    assert(centArrays(dir) == centsAfter)
    // updates keep working after a generation change
    KMeansIndex.update(spark, em.where(col("vec_id") >= 400 && col("vec_id") < 420),
      col("vec_id"), col("embedding"), dir)
    assert(KMeansIndex.assignments(spark, dir).count() == survivors.size + 20)
  }

  test("update fails fast when accumulated sums approach Long overflow") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 100)
    val batch = em.where(col("vec_id") >= 100 && col("vec_id") < 150)
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx").toString + "/m"
    KMeansIndex.build(base, col("vec_id"), col("embedding"), k = 3, iters = 1, dir)
    // simulate a long-running stream's accumulated statistics: push one
    // stored component sum to the edge of Long — the next fold must be
    // refused BEFORE the (silently wrapping) merge is computed
    val poisoned = spark.read.parquet(s"$dir/_model/_stats")
      .withColumn("s", when(col("cell") === 0 && col("d") === 0,
        lit(Long.MaxValue - 1L)).otherwise(col("s")))
    poisoned.write.mode("overwrite").parquet(s"$dir/_model/_stats2")
    spark.read.parquet(s"$dir/_model/_stats2").write.mode("overwrite")
      .parquet(s"$dir/_model/_stats")
    val e = intercept[IllegalArgumentException] {
      KMeansIndex.update(spark, batch, col("vec_id"), col("embedding"), dir)
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("assignStream: micro-batch assignments equal batch assign against the model") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_kmidx_as").toString + "/m"
    KMeansIndex.build(em.where(col("vec_id") < 200), col("vec_id"), col("embedding"),
      k = 4, iters = 1, dir)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val emb = em.select(col("vec_id"), col("embedding")).localCheckpoint()
    val q = KMeansIndex.assignStream(spark,
      in.toDF().toDF("vid").join(emb, col("vid") === col("vec_id")),
      col("vec_id"), col("embedding"), dir) { out =>
      out.select(col("id"), col("cell")).as[(Long, Long)].collect()
        .foreach { case (id, c) => got.put(id, c) }
    }
    try {
      in.addData(200L until 230L: _*); q.processAllAvailable()
      in.addData(230L until 250L: _*); q.processAllAvailable()
    } finally q.stop()
    val expect = KMeansIndex.assign(spark,
        em.where(col("vec_id") >= 200 && col("vec_id") < 250),
        col("vec_id"), col("embedding"), dir)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toMap
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toMap == expect && expect.size == 50)
  }
}
