package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SwapStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("init / read / lastBatch / fold lifecycle") {
    val path = TempDirs.create("swapstore_spec")
    SwapStore.init(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(SwapStore.lastBatch(spark, path) == -1L)
    assert(SwapStore.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    SwapStore.fold(spark, path, 0L)(_.withColumn("v", upper(col("v"))))
    assert(SwapStore.lastBatch(spark, path) == 0L)
    assert(SwapStore.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (2L, "B")))
  }

  test("fold: stale and equal batch ids are no-ops; only ascending ids apply") {
    val path = TempDirs.create("swapstore_replay")
    SwapStore.init(Seq((1L, 10L)).toDF("k", "n"), path)
    SwapStore.fold(spark, path, 5L)(_.withColumn("n", col("n") + 1))
    for (stale <- Seq(0L, 5L)) {
      SwapStore.fold(spark, path, stale)(_.withColumn("n", col("n") + 100))
      assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 11L)),
        s"batch $stale must be a no-op")
    }
    // ids need not be contiguous — only ascending
    SwapStore.fold(spark, path, 42L)(_.withColumn("n", col("n") + 1))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 12L)))
    assert(SwapStore.lastBatch(spark, path) == 42L)
  }

  test("a crashed previous attempt's leftover _store.next does not block the next fold") {
    val path = TempDirs.create("swapstore_crash")
    SwapStore.init(Seq((1L, 1L)).toDF("k", "n"), path)
    // simulate a crash AFTER writing the staging dir but BEFORE the swap
    Seq((9L, 9L)).toDF("k", "n").write.parquet(s"$path/_store.next/data")
    SwapStore.fold(spark, path, 0L)(_.withColumn("n", col("n") * 2))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 2L)))
  }

  test("a crash BETWEEN the two swap renames rolls FORWARD to a complete staging dir") {
    val path = TempDirs.create("swapstore_midswap_fwd")
    SwapStore.init(Seq((1L, 1L)).toDF("k", "n"), path)
    // stage a complete replacement (data + ledger, _SUCCESS-marked) ...
    Seq((1L, 99L)).toDF("k", "n").write.parquet(s"$path/_store.next/data")
    spark.range(1).select(lit(7L).as("last_batch"))
      .coalesce(1).write.parquet(s"$path/_store.next/ledger")
    // ... then simulate dying after rename #1: _store is gone
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$path/_store"),
      java.nio.file.Paths.get(s"$path/_store.old"))
    assert(SwapStore.lastBatch(spark, path) == 7L,
      "read must complete the crashed swap, not fail on the missing store")
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 99L)))
    // the crashed fold's replay is now a no-op (ledger already advanced)
    SwapStore.fold(spark, path, 7L)(_.withColumn("n", col("n") + 1))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 99L)))
  }

  test("a crash between the renames with an INCOMPLETE staging dir rolls BACK") {
    val path = TempDirs.create("swapstore_midswap_back")
    SwapStore.init(Seq((1L, 1L)).toDF("k", "n"), path)
    // staging dir exists but its ledger never finished (no _SUCCESS)
    Seq((1L, 99L)).toDF("k", "n").write.parquet(s"$path/_store.next/data")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$path/_store"),
      java.nio.file.Paths.get(s"$path/_store.old"))
    assert(SwapStore.lastBatch(spark, path) == -1L,
      "read must restore the previous content from _store.old")
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 1L)))
    // the interrupted fold replays cleanly on the restored store
    SwapStore.fold(spark, path, 0L)(_.withColumn("n", col("n") * 2))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 2L)))
  }

  test("retryingStaleReads: only missing-file errors burn retries") {
    var other = 0
    intercept[IllegalStateException] {
      SwapStore.retryingStaleReads(attempts = 5, backoffMs = 1) {
        other += 1; throw new IllegalStateException("not a swap window")
      }
    }
    assert(other == 1, "an unrelated error must surface immediately, no retries")
    var missing = 0
    val e = intercept[RuntimeException] {
      SwapStore.retryingStaleReads(attempts = 3, backoffMs = 1) {
        missing += 1; throw new RuntimeException("wrapped",
          new java.io.FileNotFoundException("gone"))
      }
    }
    assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
    assert(missing == 3, "a missing file (even as a cause) retries to exhaustion")
  }

  test("the codec reads what Spark wrote: a two-part manifest and a ledger") {
    val dir = TempDirs.create("swapstore_codec_read")
    spark.range(4).select(concat(lit("s"), col("id").cast("string")).as("store"),
        col("id").as("gen"))
      .coalesce(2).write.parquet(s"$dir/manifest")
    val parts = new java.io.File(s"$dir/manifest").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 2, s"expected a two-part legacy manifest, found $parts part files")
    assert(SwapStore.readDir(spark, s"$dir/manifest", SwapStore.Pairs).toSet ==
      (0L until 4L).map(i => (s"s$i", i)).toSet)
    spark.range(1).select(lit(7L).as("last_batch"))
      .coalesce(1).write.parquet(s"$dir/ledger")
    assert(SwapStore.readDir(spark, s"$dir/ledger", SwapStore.Ledger) == Seq(7L))
  }

  test("Spark reads what the codec wrote: a ledger and a pairs dir") {
    val dir = TempDirs.create("swapstore_codec_write")
    val rows = Seq(("a", -1L), ("\u00e9t\u00e9", 3L))
    SwapStore.writeDir(spark, s"$dir/pairs", SwapStore.Pairs, rows)
    SwapStore.writeDir(spark, s"$dir/ledger", SwapStore.Ledger, Seq(5L))
    Seq("pairs", "ledger").foreach(d =>
      assert(new java.io.File(s"$dir/$d/_SUCCESS").exists(), s"$d has no _SUCCESS marker"))
    assert(spark.read.parquet(s"$dir/pairs").as[(String, Long)].collect().toSet == rows.toSet)
    assert(spark.read.parquet(s"$dir/ledger").as[Long].collect().toSeq == Seq(5L))
  }

  test("manifest and ledger I/O start no Spark job") {
    val base = TempDirs.create("swapstore_zero_jobs")
    Catalog.init(base, Map("a" -> Seq((1L, 1L)).toDF("k", "v")))
    val sc = spark.sparkContext
    val group = s"swapstore-zero-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "manifest and ledger I/O")
    try {
      assert(Catalog.gens(spark, base) == Map("a" -> -1L))
      Catalog.savepoint(spark, base, "sp")
      // Catalog.readAt's manifest read
      assert(SwapStore.readDir(spark, s"$base/_savepoints/sp/manifest", SwapStore.Pairs) ==
        Seq(("a", -1L)))
      // Catalog.ingest's manifest fold (its store writes are Spark jobs by design)
      SwapStore.foldPairs(spark, s"$base/_manifest", 0L)(_.map { case (n, _) => (n, 0L) })
      assert(Catalog.lastBatch(spark, base) == 0L)
      // control: one RDD job in the same group. Job starts reach the
      // status store in order, so once it shows, any earlier job has too
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.length == 1, s"expected only the control job, got jobs ${jobs.sorted.mkString(", ")}")
    } finally sc.clearJobGroup()
  }

  test("every ledgered stream refuses to start without a durable checkpoint") {
    // the guard runs inside SwapStore.writerStream before any query
    // starts: checkpoint = None without ephemeralOk is an error for all
    // sixteen ledgered entry points, and leaves no job and no stream
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)].toDF().toDF("k", "n", "v")
    val (c, p) = (col("v"), "/nonexistent/swapstore_guard")
    val folds = Seq("s" -> ((cur: DataFrame, _: DataFrame) => cur))
    val entries: Seq[(String, () => Any)] = Seq(
      "Admission.ingestStream" -> (() => Admission.ingestStream(spark, p, p, in, c,
        col("k"), in, c, col("k"), folds)),
      "EventTimeWindows.sessionizeStream" -> (() =>
        EventTimeWindows.sessionizeStream(spark, in, Seq("k"), c, c, 1000L, p)(_ => ())),
      "Timeseries.cusumStream" -> (() =>
        Timeseries.cusumStream(spark, in, Seq("k"), c, c, c, 0L, 1L, p)),
      "JoinView.ingestCdcStream" -> (() =>
        JoinView.ingestCdcStream(spark, in, p, c > 0, "k", Seq(c), Seq(c))),
      "Sketches.ingestThetaStream" -> (() =>
        Sketches.ingestThetaStream(spark, in, Seq(col("k")), col("n"), c, p)),
      "Sketches.ingestKllStream" -> (() =>
        Sketches.ingestKllStream(spark, in, Seq(col("k")), col("n"), c, p)),
      "Sketches.ingestTopKStream" -> (() =>
        Sketches.ingestTopKStream(spark, in, Seq(col("k")), col("n"), c, p)),
      "Frontier.skylineStream" -> (() =>
        Frontier.skylineStream(spark, in, Seq("k"), "n", "v", p)),
      "Diff.maintainAggStream" -> (() =>
        Diff.maintainAggStream(spark, in, p, Seq("k"), "k", "n", Seq("v" -> "v"))),
      "Diff.scd2Stream" -> (() => Diff.scd2Stream(spark, in, p, Seq("k"), "n")),
      "Quantiles.madMonitorStream" -> (() =>
        Quantiles.madMonitorStream(spark, in, Seq("k"), c, p)),
      "Catalog.ingestStream" -> (() => Catalog.ingestStream(spark, in, p, folds)),
      "Catalog.ingestStreamDynamic" -> (() =>
        Catalog.ingestStreamDynamic(spark, in, p, _ => folds)),
      "Bm25Index.appendStream" -> (() => Bm25Index.appendStream(spark, in, c, col("k"), p)),
      "TrigramIndex.appendStream" -> (() =>
        TrigramIndex.appendStream(spark, in, c, col("k"), p)),
      "KMeansIndex.updateStream" -> (() =>
        KMeansIndex.updateStream(spark, in, c, c, p)(_ => ())))
    assert(entries.map(_._1).distinct.size == 16)
    val sc = spark.sparkContext
    val group = s"swapstore-guard-${System.nanoTime()}"
    val activeBefore = spark.streams.active.map(_.id).toSet
    sc.setJobGroup(group, "durable-checkpoint guard")
    try {
      for ((name, start) <- entries) {
        val e = intercept[IllegalArgumentException](start())
        assert(e.getMessage.contains("WITHOUT a durable checkpoint"), name)
        assert(e.getMessage.contains("ephemeralOk"), name)
      }
      assert(spark.streams.active.map(_.id).toSet == activeBefore, "a guarded stream started")
      // control job, as in the zero-job manifest test above
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (sc.statusTracker.getJobIdsForGroup(group).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val jobs = sc.statusTracker.getJobIdsForGroup(group)
      assert(jobs.length == 1, s"expected only the control job, got jobs ${jobs.sorted.mkString(", ")}")
    } finally sc.clearJobGroup()
  }

  test("compact bounds the data file count and changes neither content nor ledger") {
    val path = TempDirs.create("swapstore_compact")
    SwapStore.init(spark.range(100).toDF("k").repartition(8), path)
    SwapStore.fold(spark, path, 3L)(df => df.withColumn("n", col("k") * 2))
    val before = SwapStore.read(spark, path).as[(Long, Long)].collect().toSet
    SwapStore.compact(spark, path, files = 1)
    assert(SwapStore.lastBatch(spark, path) == 3L, "compact must not advance the ledger")
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().toSet == before)
    val parts = new java.io.File(s"$path/_store/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 1, s"expected 1 data file after compact, found $parts")
    // folds keep applying normally on the compacted store
    SwapStore.fold(spark, path, 4L)(_.where(col("k") < 50))
    assert(SwapStore.read(spark, path).count() == 50)
  }

  test("init over an existing store replaces it atomically and resets the ledger") {
    val path = TempDirs.create("swapstore_reinit")
    SwapStore.init(Seq((1L, "old")).toDF("k", "v"), path)
    SwapStore.fold(spark, path, 3L)(identity)
    SwapStore.init(Seq((2L, "new")).toDF("k", "v"), path)
    assert(SwapStore.lastBatch(spark, path) == -1L)
    assert(SwapStore.read(spark, path).as[(Long, String)].collect().toSet ==
      Set((2L, "new")))
  }

  test("a second concurrent writer into one bare store path fails with the lease error") {
    val path = TempDirs.create("swapstore_lease_race")
    SwapStore.init(Seq((1L, 0L)).toDF("k", "n"), path)
    // writer A blocks INSIDE its fold's transform (lease held); writer
    // B's fold — a different query into the SAME path, the silent-
    // corruption case the round-12 verdict named — must fail loudly
    val inFold = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    var aFailed: Option[Throwable] = None
    val a = new Thread(() => {
      try SwapStore.fold(spark, path, 0L) { cur =>
        inFold.countDown()
        assert(release.await(30, java.util.concurrent.TimeUnit.SECONDS))
        cur.withColumn("n", col("n") + 1)
      } catch { case t: Throwable => aFailed = Some(t) }
    })
    a.start()
    assert(inFold.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      val e = intercept[IllegalStateException] {
        SwapStore.fold(spark, path, 1L)(_.withColumn("n", col("n") + 100))
      }
      assert(e.getMessage.contains("another writer holds the lease"))
      val e2 = intercept[IllegalStateException] {
        SwapStore.compact(spark, path)
      }
      assert(e2.getMessage.contains("another writer holds the lease"))
    } finally {
      release.countDown()
      a.join(60000)
    }
    assert(aFailed.isEmpty, s"writer A must complete normally: $aFailed")
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 1L)))
    // with A done the lease is released and the next fold lands
    SwapStore.fold(spark, path, 1L)(_.withColumn("n", col("n") + 100))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 101L)))
    assert(!new java.io.File(path, "_writer.lease").exists())
  }

  test("a crashed holder's stale lease on a bare store path is reclaimed transparently") {
    val path = TempDirs.create("swapstore_lease_stale")
    SwapStore.init(Seq((1L, 0L)).toDF("k", "n"), path)
    val lease = new java.io.File(path, "_writer.lease")
    java.nio.file.Files.write(lease.toPath, "dead-host#1#x\ncrashed\n".getBytes("UTF-8"))
    assert(lease.setLastModified(
      System.currentTimeMillis() - 2 * WriterLease.DefaultStaleMs))
    SwapStore.fold(spark, path, 0L)(_.withColumn("n", col("n") + 1))
    assert(SwapStore.read(spark, path).as[(Long, Long)].collect().head == ((1L, 1L)))
    assert(!lease.exists())
  }
}
