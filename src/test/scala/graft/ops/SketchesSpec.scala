package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SketchesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (group, bucket, value): two groups, four buckets, overlapping values
  private def rows = Seq(
    ("x", 0L, 1L), ("x", 0L, 2L), ("x", 0L, 2L),        // dup inside bucket
    ("x", 1L, 2L), ("x", 1L, 3L),                        // overlap across buckets
    ("x", 2L, 4L), ("x", 3L, 1L), ("x", 3L, 5L),
    ("y", 0L, 10L), ("y", 1L, 10L), ("y", 2L, 11L), ("y", 3L, 12L))
  private def df = rows.toDF("g", "b", "v")
  private def buckets = Sketches.thetaBuckets(df, Seq(col("g")), col("b"), col("v"))

  test("distinctOver == exact COUNT DISTINCT for every bucket range (exact regime)") {
    for (lo <- 0L to 3L; hi <- lo to 3L) {
      val got = Sketches.distinctOver(buckets, Seq("g"), col("bucket").between(lo, hi))
        .as[(String, Long)].collect().toMap
      val want = rows.filter(r => r._2 >= lo && r._2 <= hi)
        .groupBy(_._1).map { case (g, rs) => g -> rs.map(_._3).distinct.size.toLong }
      assert(got == want, s"range [$lo,$hi]")
    }
  }

  test("overlapOver: intersection / difference / totals equal exact set algebra") {
    val got = Sketches.overlapOver(buckets, Seq("g"),
        col("bucket") <= 1, col("bucket") >= 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    def setOf(g: String, p: Long => Boolean) =
      rows.filter(r => r._1 == g && p(r._2)).map(_._3).toSet
    for (g <- Seq("x", "y")) {
      val (a, b) = (setOf(g, _ <= 1), setOf(g, _ >= 2))
      assert(got(g) == ((a.intersect(b).size.toLong, (a -- b).size.toLong,
        (b -- a).size.toLong, a.size.toLong, b.size.toLong)), s"group $g")
    }
  }

  test("overlapOver: a one-sided group reports zeros, not nulls") {
    // g2's rows all land on the A side — the B union aggregates no
    // inputs, and the set algebra must resolve to empty-set answers
    val oneSided = Seq(("g1", 0L, 1L), ("g1", 1L, 2L), ("g2", 0L, 3L))
      .toDF("g", "b", "v")
    val bk = Sketches.thetaBuckets(oneSided, Seq(col("g")), col("b"), col("v"))
    val got = Sketches.overlapOver(bk, Seq("g"), col("bucket") === 0, col("bucket") === 1)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("g2") == ((0L, 1L, 0L, 1L, 0L)), "A-only group: only_a = a_total, rest 0")
    assert(got("g1") == ((0L, 1L, 1L, 1L, 1L)))
    val flipped = Sketches.overlapOver(bk, Seq("g"), col("bucket") === 1, col("bucket") === 0)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(flipped("g2") == ((0L, 0L, 1L, 0L, 1L)), "B-only group: only_b = b_total, rest 0")
  }

  test("union of bucket sketches == one direct sketch over the filtered rows") {
    val direct = df.where(col("b") <= 2).groupBy("g")
      .agg(theta_sketch_estimate(theta_sketch_agg(col("v"), 20)).as("d"))
      .as[(String, Long)].collect().toMap
    val rolled = Sketches.distinctOver(buckets, Seq("g"), col("bucket") <= 2)
      .as[(String, Long)].collect().toMap
    assert(rolled == direct)
  }

  test("exact regime holds at realistic scale: 50k distinct longs, bit-exact") {
    val big = spark.range(200000)
      .select((col("id") % 50000).as("v"), (col("id") % 8).as("b"), lit("g").as("g"))
    val bk = Sketches.thetaBuckets(big, Seq(col("g")), col("b"), col("v"))
    val got = Sketches.distinctOver(bk, Seq("g"), lit(true))
      .as[(String, Long)].collect().head._2
    assert(got == 50000L)
  }

  test("an empty slice: groups with no matching buckets disappear; one-sided overlap") {
    assert(Sketches.distinctOver(buckets, Seq("g"), col("bucket") > 100).count() == 0)
    // y has buckets on both sides of b=3 split only in A; B empty for neither
    val oneSided = Sketches.overlapOver(buckets, Seq("g"), col("bucket") <= 3, col("bucket") > 100)
    // A-only slice: in_both / only_b must be 0, only_a = a_total
    val r = oneSided.where(col("g") === "x")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    if (r.nonEmpty) {
      assert(r.head._2 == 0L && r.head._4 == 0L && r.head._3 == r.head._5)
    }
  }

  test("build plan: map-side partial sketch aggregation, one exchange; range query touches only the bucket table") {
    val li = graft.sources.Tables(spark, "/root/testdata/sf0.001").events
    val bk = Sketches.thetaBuckets(li, Seq(col("event_type")),
      (unix_millis(col("ts")) / lit(86400000L)).cast("long"), col("user_id"))
    val buildPlan = bk.queryExecution.executedPlan.toString
    assert(buildPlan.contains("ObjectHashAggregate") || buildPlan.contains("HashAggregate"),
      s"sketch build must hash-aggregate:\n$buildPlan")
    assert("Exchange".r.findAllIn(buildPlan).size == 1,
      s"one exchange for the build:\n$buildPlan")
    val q = Sketches.distinctOver(bk.localCheckpoint(), Seq("event_type"), lit(true))
    val qPlan = q.queryExecution.executedPlan.toString
    assert(!qPlan.contains("FileScan") && !qPlan.contains("parquet"),
      s"range query must not re-read the corpus:\n$qPlan")
  }

  test("kll quantile rollup == percentile_disc for every bucket range (exact regime)") {
    // values chosen with duplicates and skew; per-range n ≤ 8 « k
    val qb = Sketches.kllBuckets(df, Seq(col("g")), col("b"), col("v"), k = 64)
    for (lo <- 0L to 3L; hi <- lo to 3L) {
      val got = Sketches.quantilesOver(qb, Seq("g"),
          col("bucket").between(lo, hi), Seq(0.5, 0.9), k = 64)
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val want = df.where(col("b").between(lo, hi))
        .groupBy("g").agg(
          expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p50"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS BIGINT)").as("p90"))
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == want, s"range [$lo,$hi]")
    }
  }

  test("kll rollup exact at scale: 50k values per group across 8 buckets, k=65535") {
    // n = 50k ≤ k keeps every level-0 buffer (and the merged sketch)
    // uncompacted — the documented exact regime; 100k items against the
    // same k measured rank error ~2e-5 (946 vs 947), the graceful
    // degradation the op promises beyond capacity
    val big = spark.range(50000)
      .select(lit("g").as("g"), (col("id") % 8).as("b"),
        // skewed: squares mod large prime — ties and gaps
        ((col("id") * col("id")) % 99991L).as("v"))
    val qb = Sketches.kllBuckets(big, Seq(col("g")), col("b"), col("v"), k = 65535)
    val got = Sketches.quantilesOver(qb, Seq("g"), lit(true),
        Seq(0.01, 0.5, 0.99), k = 65535)
      .as[(String, Long, Long, Long)].collect().head
    val want = big.groupBy("g").agg(
        expr("CAST(percentile_disc(0.01) WITHIN GROUP (ORDER BY v) AS BIGINT)"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)"),
        expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY v) AS BIGINT)"))
      .as[(String, Long, Long, Long)].collect().head
    assert(got == want)
  }

  test("topKOver == exact counts and deterministic rank for every bucket range (capacity regime)") {
    // items with cross-bucket repeats and ties (1 appears in b0 and b3)
    val tb = Sketches.topKBuckets(df, Seq(col("g")), col("b"),
      concat(lit("w"), col("v")), maxItems = 64)
    for (lo <- 0L to 3L; hi <- lo to 3L) {
      val got = Sketches.topKOver(tb, Seq("g"), col("bucket").between(lo, hi),
          k = 3, maxItems = 64)
        .as[(String, String, Long, Int)].collect().toSet
      val want = rows.filter(r => r._2 >= lo && r._2 <= hi)
        .groupBy(r => (r._1, s"w${r._3}")).map { case ((g, w), rs) => (g, w, rs.size.toLong) }
        .groupBy(_._1).flatMap { case (g, items) =>
          items.toSeq.sortBy(i => (-i._3, i._2)).zipWithIndex.take(3)
            .map { case ((_, w, c), i) => (g, w, c, i + 1) }
        }.toSet
      assert(got == want, s"range [$lo,$hi]")
    }
  }

  test("appendThetaBuckets == rebuild over the combined input") {
    val (first, second) = (rows.take(7), rows.drop(7))
    val appended = Sketches.appendThetaBuckets(
      Sketches.thetaBuckets(first.toDF("g", "b", "v"), Seq(col("g")), col("b"), col("v")),
      second.toDF("g", "b", "v"), Seq(col("g")), col("b"), col("v"))
    val est = Sketches.distinctOver(appended, Seq("g"), lit(true))
      .as[(String, Long)].collect().toMap
    val want = Sketches.distinctOver(buckets, Seq("g"), lit(true))
      .as[(String, Long)].collect().toMap
    assert(est == want)
    // overlap algebra still works off the appended table
    val o1 = Sketches.overlapOver(appended, Seq("g"), col("bucket") <= 1, col("bucket") >= 2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val o2 = Sketches.overlapOver(buckets, Seq("g"), col("bucket") <= 1, col("bucket") >= 2)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(o1 == o2)
  }

  test("ingestThetaStream: micro-batches grow the standing store; equals one-shot build; replays are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val path = graft.core.TempDirs.create("graft_theta_store")
    val (first, rest) = (rows.take(4), rows.drop(4))
    Sketches.initThetaStore(first.toDF("g", "b", "v"),
      Seq(col("g")), col("b"), col("v"), path)
    val in = MemoryStream[(String, Long, Long)]
    val q = Sketches.ingestThetaStream(spark, in.toDF().toDF("g", "b", "v"),
      Seq(col("g")), col("b"), col("v"), path, ephemeralOk = true)
    try {
      rest.grouped(3).foreach { batch => in.addData(batch: _*); q.processAllAvailable() }
    } finally q.stop()
    val store = Sketches.readThetaStore(spark, path)
    val got = Sketches.distinctOver(store, Seq("g"), lit(true))
      .as[(String, Long)].collect().toMap
    val want = Sketches.distinctOver(buckets, Seq("g"), lit(true))
      .as[(String, Long)].collect().toMap
    assert(got == want)
    // exactly-once: re-folding an already-applied batch id is a no-op
    graft.core.SwapStore.fold(spark, path, batchId = 0L) { cur =>
      Sketches.appendThetaBuckets(cur,
        Seq(("x", 0L, 777L)).toDF("g", "b", "v"), Seq(col("g")), col("b"), col("v"))
    }
    val after = Sketches.distinctOver(Sketches.readThetaStore(spark, path),
      Seq("g"), lit(true)).as[(String, Long)].collect().toMap
    assert(after == want, "replayed batch must not grow the store")
  }

  test("appendKllBuckets / appendTopKBuckets == rebuild over the combined input (exact regimes)") {
    val (first, second) = (rows.take(7), rows.drop(7))
    // KLL: quantiles from the appended store equal the one-shot build
    val kllApp = Sketches.appendKllBuckets(
      Sketches.kllBuckets(first.toDF("g", "b", "v"), Seq(col("g")), col("b"), col("v"), k = 64),
      second.toDF("g", "b", "v"), Seq(col("g")), col("b"), col("v"), k = 64)
    val kllFull = Sketches.kllBuckets(df, Seq(col("g")), col("b"), col("v"), k = 64)
    val qa = Sketches.quantilesOver(kllApp, Seq("g"), lit(true), Seq(0.5, 0.9), k = 64)
      .as[(String, Long, Long)].collect().toSet
    val qf = Sketches.quantilesOver(kllFull, Seq("g"), lit(true), Seq(0.5, 0.9), k = 64)
      .as[(String, Long, Long)].collect().toSet
    assert(qa == qf)
    // topK: ranks from the appended store equal the one-shot build
    val tkApp = Sketches.appendTopKBuckets(
      Sketches.topKBuckets(first.toDF("g", "b", "v"), Seq(col("g")), col("b"),
        concat(lit("w"), col("v")), maxItems = 64),
      second.toDF("g", "b", "v"), Seq(col("g")), col("b"),
      concat(lit("w"), col("v")), maxItems = 64)
    val tkFull = Sketches.topKBuckets(df, Seq(col("g")), col("b"),
      concat(lit("w"), col("v")), maxItems = 64)
    val ta = Sketches.topKOver(tkApp, Seq("g"), lit(true), k = 3, maxItems = 64)
      .as[(String, String, Long, Int)].collect().toSet
    val tf = Sketches.topKOver(tkFull, Seq("g"), lit(true), k = 3, maxItems = 64)
      .as[(String, String, Long, Int)].collect().toSet
    assert(ta == tf)
  }

  test("ingestThetaStream restart: durable checkpoint continues batch ids; a fresh query replays into ledger no-ops") {
    // the documented exactly-once contract: the SwapStore ledger
    // de-duplicates BATCH IDS, so across a stop/restart the ids must
    // keep ascending — which requires the same durable checkpoint.
    val data = (0L until 80L).map(i => ("g", i % 4, i % 40)) // 40 distinct values
    val df = data.toDF("g", "b", "v")
    val stage = graft.core.TempDirs.create("graft_theta_restart")
    graft.streaming.Replay.writeOrderedSlices(
      df.where(col("v") < 20), col("v"), stage, 2)
    val path = graft.core.TempDirs.create("graft_theta_restart_store")
    val ckpt = graft.core.TempDirs.create("graft_theta_restart_ckpt")
    Sketches.initThetaStore(df.limit(0), Seq(col("g")), col("b"), col("v"), path)
    def startIngest() = Sketches.ingestThetaStream(spark,
      graft.streaming.Replay.orderedStream(spark, stage, df.schema),
      Seq(col("g")), col("b"), col("v"), path, checkpoint = Some(ckpt))
    val q1 = startIngest()
    try q1.processAllAvailable() finally q1.stop()          // bids 0,1 applied
    assert(graft.core.SwapStore.lastBatch(spark, path) == 1L)
    // phase B: more data arrives while the query is DOWN, then restart
    // from the same checkpoint — ids continue at 2,3 and the new
    // slices fold in
    graft.streaming.Replay.appendSlice(stage,
      df.where(col("v") >= 20 && col("v") < 30), 2)
    graft.streaming.Replay.appendSlice(stage, df.where(col("v") >= 30), 3)
    val q2 = startIngest()
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.core.SwapStore.lastBatch(spark, path) == 3L)
    val got = Sketches.distinctOver(Sketches.readThetaStore(spark, path),
      Seq("g"), lit(true)).as[(String, Long)].collect().toMap
    assert(got == Map("g" -> 40L))
    // the HAZARD, pinned: a FRESH checkpoint restarts ids at 0 — its
    // first batch re-reads available files under an already-advanced
    // ledger and must no-op rather than double-apply (and would
    // equally no-op genuinely new data, which is why stores that
    // outlive one query need the durable checkpoint above)
    val q3 = Sketches.ingestThetaStream(spark,
      graft.streaming.Replay.orderedStream(spark, stage, df.schema),
      Seq(col("g")), col("b"), col("v"), path, checkpoint = None,
      ephemeralOk = true)
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.core.SwapStore.lastBatch(spark, path) == 3L,
      "fresh-checkpoint replay must not advance the ledger")
    val after = Sketches.distinctOver(Sketches.readThetaStore(spark, path),
      Seq("g"), lit(true)).as[(String, Long)].collect().toMap
    assert(after == Map("g" -> 40L))
  }

  test("runningDistinct: update-mode stream — final max per group equals batch distinct") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val batches = Seq(
      Seq(("x", 1L), ("x", 2L), ("y", 10L)),
      Seq(("x", 2L), ("x", 3L), ("y", 10L)),   // x grows, y unchanged
      Seq(("z", 100L), ("x", 1L)))             // new group; x all-dup batch
    val in = MemoryStream[(String, Long)]
    val out = Sketches.runningDistinct(in.toDF().toDF("g", "u"),
      Seq(col("g")), col("u"))
    val q = out.writeStream.format("memory").queryName("theta_run_test")
      .outputMode("update").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("theta_run_test")
      .groupBy("g").agg(max("distinct_count").as("d"))
      .as[(String, Long)].collect().toMap
    val want = batches.flatten.groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(_._2).distinct.size.toLong }
    assert(got == want)
    // y was re-emitted only when it changed: exactly the batches where
    // its sketch grew (batch 1) — x emits in batch 1 and 2 (3 distinct)
    // and again in batch 3 only if the engine re-emits unchanged groups;
    // either way every emitted value is an exact running distinct, so
    // all emits for x must be in {2, 3}
    val xs = spark.table("theta_run_test").where(col("g") === "x")
      .as[(String, Long)].collect().map(_._2).toSet
    assert(xs.subsetOf(Set(2L, 3L)), s"unexpected x emits: $xs")
  }

  test("kll guards: k bounds, rank bounds") {
    assertThrows[IllegalArgumentException] {
      Sketches.kllBuckets(df, Seq(col("g")), col("b"), col("v"), k = 4)
    }
    val qb = Sketches.kllBuckets(df, Seq(col("g")), col("b"), col("v"))
    assertThrows[IllegalArgumentException] {
      Sketches.quantilesOver(qb, Seq("g"), lit(true), Seq(0.0))
    }
    assertThrows[IllegalArgumentException] {
      Sketches.quantilesOver(qb, Seq("g"), lit(true), Seq.empty)
    }
  }

  test("guards: lgK bounds") {
    assertThrows[IllegalArgumentException] {
      Sketches.thetaBuckets(df, Seq(col("g")), col("b"), col("v"), lgK = 2)
    }
    assertThrows[IllegalArgumentException] {
      Sketches.thetaBuckets(df, Seq(col("g")), col("b"), col("v"), lgK = 30)
    }
  }
}
