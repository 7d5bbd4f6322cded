package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.SwapStore
import graft.sources.Tables

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("persisted index returns exactly what one-shot ivfTopK returns") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.build(em, col("vec_id"), col("embedding"), nCells = 16, dir)

    val q = em.where(col("vec_id") < 10)
    val fromIndex = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
        k = 5, nProbe = 4)
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = Similarity.ivfTopK(q, em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, nCells = 16, nProbe = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromIndex == oneShot,
      s"index result diverges (index=${fromIndex.size}, oneShot=${oneShot.size})")
  }

  test("appended vectors are assigned to stored centroids and found by queries") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    IvfIndex.build(em, col("vec_id"), col("embedding"), nCells = 16, dir)
    // append a near-copy of vector 5 under a new id — a query with
    // vector 5 probes its own cell, so the near-copy must rank first
    val copy = em.where(col("vec_id") === 5)
      .select((col("vec_id") + 500000L).as("vid"),
        transform(col("embedding"), x => x * 1.0f).as("emb"))
    IvfIndex.append(spark, copy, col("vid"), col("emb"), dir)
    val q = em.where(col("vec_id") === 5)
    val top = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
        k = 3, nProbe = 4)
      .orderBy("rk").as[(Long, Long, Long)].collect()
    assert(top.head._2 == 500005L, s"appended near-copy not ranked first: ${top.toSeq}")
  }

  test("cell stats detect append drift; rebuild restores fresh-build results") {
    val em = Tables(spark, sf).embeddings
    val base = em.where(col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_reb").toString
    IvfIndex.build(base, col("vec_id"), col("embedding"), nCells = 8, dir)

    val statsBefore = IvfIndex.cellStats(spark, dir)
      .as[(Int, Long)].collect().toMap
    assert(statsBefore.values.sum == base.count(), "cellStats must account for every row")
    assert(statsBefore.size <= 8)
    assert(!IvfIndex.needsRebuild(spark, dir),
      s"fresh build flagged as unbalanced: $statsBefore")

    // drift: 500 near-copies of one vector — all land in a single cell
    val skewed = em.where(col("vec_id") === 1)
      .crossJoin(spark.range(500).toDF("i"))
      .select((col("i") + 700000L).as("vid"), col("embedding").as("emb"))
    IvfIndex.append(spark, skewed, col("vid"), col("emb"), dir)
    val statsAfter = IvfIndex.cellStats(spark, dir).as[(Int, Long)].collect().toMap
    assert(statsAfter.values.max >= 500, s"skewed batch not concentrated: $statsAfter")
    assert(IvfIndex.needsRebuild(spark, dir),
      s"500-row hot cell not flagged (stats: $statsAfter)")

    IvfIndex.rebuild(spark, dir)
    assert(IvfIndex.numCells(spark, dir) == 8, "rebuild must keep nCells")

    // rebuilt index answers queries exactly like a fresh build over the
    // same (base + appended) corpus — centroid re-sampling is deterministic
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString
    IvfIndex.build(
      base.select(col("vec_id"), col("embedding"))
        .union(skewed.select(col("vid"), col("emb"))),
      col("vec_id"), col("embedding"), nCells = 8, fresh)
    val q = em.where(col("vec_id") < 5)
    val fromRebuilt = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 3).as[(Long, Long, Long)].collect().toSet
    val fromFresh = IvfIndex.query(spark, fresh, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 3).as[(Long, Long, Long)].collect().toSet
    assert(fromRebuilt == fromFresh,
      s"rebuilt index diverges from fresh build (rebuilt=${fromRebuilt.size}, fresh=${fromFresh.size})")
    assert(fromRebuilt.nonEmpty)
  }

  test("compact: repeated appends then compact — identical queries, one file per cell") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    IvfIndex.build(em.where(col("vec_id") % 4 === 0),
      col("vec_id"), col("embedding"), nCells = 8, dir)
    for (r <- 1 to 3) // continuous ingestion piles small files into cells
      IvfIndex.append(spark,
        em.where(col("vec_id") % 4 === r), col("vec_id"), col("embedding"), dir)

    def filesPerCell: Map[String, Int] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
        .toMap
    val q = em.where(col("vec_id") < 6)
    val before = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 3).as[(Long, Long, Long)].collect().toSet
    val grewFiles = filesPerCell
    assert(grewFiles.values.exists(_ > 1.0),
      s"appends did not create the small-file condition: $grewFiles")
    val statsBefore = IvfIndex.cellStats(spark, dir).as[(Int, Long)].collect().toMap

    IvfIndex.compact(spark, dir)

    val compacted = filesPerCell
    assert(compacted.values.forall(_ == 1), s"compaction left multi-file cells: $compacted")
    val after = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 3).as[(Long, Long, Long)].collect().toSet
    assert(after == before && after.nonEmpty,
      s"compaction changed query results (before=${before.size}, after=${after.size})")
    val statsAfter = IvfIndex.cellStats(spark, dir).as[(Int, Long)].collect().toMap
    assert(statsAfter == statsBefore, "compaction changed cell membership")
    assert(IvfIndex.numCells(spark, dir) == 8, "centroids must survive compaction")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir.old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir.compact")))
  }

  test("index query scan is dynamically partition-pruned to probed cells") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dpp").toString
    IvfIndex.build(em, col("vec_id"), col("embedding"), nCells = 16, dir)
    val q = em.where(col("vec_id") < 3)
    val df = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 2)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("PartitionFilters: [isnotnull(cell"),
      s"index scan not partition-pruned:\n$p")
    // and it still produces full top-k output for every query
    val rows = df.as[(Long, Long, Long)].collect()
    assert(rows.length == 3 * 5)
  }

  test("buildTrained: k-means cells persist and query equals the one-shot trained IVF") {
    val em = Tables(spark, sf).embeddings
    val c = em.select(col("vec_id").as("cand_id"),
      transform(col("embedding"), x => x.cast("double")).as("cv"))
    val cents = KMeans.centroidsAsDouble(
      KMeans.fit(c, col("cand_id"), col("cv"), k = 8, iters = 2))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_trained").toString
    IvfIndex.buildTrained(c, col("cand_id"), col("cv"), cents, dir)

    val q = em.where(col("vec_id") < 10)
    val fromIndex = IvfIndex.query(spark, dir, q, col("vec_id"),
        transform(col("embedding"), x => x.cast("double")), k = 5, nProbe = 4)
      .as[(Long, Long, Long)].collect().toSet
    // the one-shot refits the identical deterministic k-means, so the
    // persisted-index path must return exactly its results
    val oneShot = KMeans.ivfTopKTrained(q, em,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 5, nCells = 8, iters = 2, nProbe = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromIndex == oneShot && fromIndex.size == 50)
    // maintenance surface works on the trained index unchanged
    assert(IvfIndex.numCells(spark, dir) == 8)
    assert(IvfIndex.cellStats(spark, dir).as[(Int, Long)].collect().map(_._2).sum == 500)
  }

  test("remove: taken-down vectors leave results; centroids and survivors intact") {
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rm").toString
    IvfIndex.build(em, col("vec_id"), col("embedding"), nCells = 8, dir)
    val q = em.where(col("vec_id") < 5)
    val before = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 8).as[(Long, Long, Long)].collect()
    val victims = before.map(_._2).distinct.take(3)
    IvfIndex.remove(spark, dir, victims.toSeq.toDF("x"), col("x"))
    val after = IvfIndex.query(spark, dir, q, col("vec_id"), col("embedding"),
      k = 5, nProbe = 8).as[(Long, Long, Long)].collect()
    assert(after.length == 25, "k results per query must survive removal")
    assert(!after.exists(r => victims.contains(r._2)),
      s"removed vectors still returned: ${after.filter(r => victims.contains(r._2)).toSeq}")
    assert(IvfIndex.numCells(spark, dir) == 8, "centroids must survive removal")
    assert(IvfIndex.cellStats(spark, dir).as[(Int, Long)].collect().map(_._2).sum ==
      em.count() - victims.length)
  }

  test("searchStream: micro-batches query the standing index; an append lands between batches") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val em = Tables(spark, sf).embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_ss").toString
    IvfIndex.build(em, col("vec_id"), col("embedding"), nCells = 16, dir)

    val in = MemoryStream[Long]
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[(Long, Long)]]()
    val q = IvfIndex.searchStream(spark,
      in.toDF().toDF("qid")
        .join(em.select(col("vec_id").as("qid"), col("embedding")), Seq("qid")),
      col("qid"), col("embedding"), dir, k = 3, nProbe = 4) { res =>
      res.as[(Long, Long, Long)].collect()
        .groupBy(_._1).foreach { case (id, rs) =>
          got.put(id, rs.sortBy(_._3).map(r => (r._2, r._3)).toSeq)
        }
    }
    try {
      in.addData(0L, 1L, 2L); q.processAllAvailable()
      // batch answers equal the one-shot query over the same ids
      val expect1 = IvfIndex.query(spark, dir,
          em.where(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 3, nProbe = 4)
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._3).map(r => (r._2, r._3)).toSeq }
      assert((0L to 2L).forall(id => got.get(id) == expect1(id)))

      // an append between batches is visible to the NEXT batch: plant a
      // near-copy of vector 7, then query 7 — the copy must rank first
      val copy = em.where(col("vec_id") === 7)
        .select((col("vec_id") + 500000L).as("vid"),
          transform(col("embedding"), x => x * 1.0f).as("emb"))
      IvfIndex.append(spark, copy, col("vid"), col("emb"), dir)
      in.addData(7L); q.processAllAvailable()
      assert(got.get(7L).head._1 == 500007L,
        s"post-append batch missed the planted near-copy: ${got.get(7L)}")
    } finally q.stop()
  }

  test("retryingStaleReads: retries the missing-file family, rethrows the rest") {
    // missing-file errors retry until the (simulated) swap completes
    var calls = 0
    val got = SwapStore.retryingStaleReads(attempts = 5, backoffMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("wrapped",
        new java.io.FileNotFoundException("part-000.parquet"))
      42
    }
    assert(got == 42 && calls == 3)
    // attempts exhausted → the missing-file error surfaces
    intercept[RuntimeException] {
      SwapStore.retryingStaleReads(attempts = 2, backoffMs = 1) {
        throw new RuntimeException("x", new java.io.FileNotFoundException("y"))
      }
    }
    // a non-missing-file failure must NOT retry
    var other = 0
    intercept[IllegalStateException] {
      SwapStore.retryingStaleReads(attempts = 5, backoffMs = 1) {
        other += 1; throw new IllegalStateException("boom")
      }
    }
    assert(other == 1)
  }
}
